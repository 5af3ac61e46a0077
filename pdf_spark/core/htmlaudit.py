"""HTML audits: AI-training opt-out, cloaking, soft redirects, charset,
hreflang, SPA shells, data: URIs, srcset, publication dates, third-party
resources, language channels and paywalls.

Each audit is a pure function of the payload bytes, read by the query
matrix and never by the fused extraction path. The tag-level audits share
``HtmlTokens`` and ``scan_tags`` with ``core/htmltext.py``, so a
``<script>`` body can never fake a tag — the raw-text-decoy guarantee the
unit tests pin.
"""

from __future__ import annotations

import re

from pdf_spark.core.htmltext import (  # noqa: WPS450 (shared tokenizer)
    _AUTOCLOSE,
    _HIDDEN_TAGS,
    _MAX_STACK,
    _RAWTEXT,
    _VOID,
    HtmlTokens,
    _parse_attrs,
    decode_html,
    scan_tags,
    unescape,
)

# --- AI-training opt-out (robots noai / TDM Reservation Protocol) --------------
#
# The compliance gate a training pipeline runs BEFORE any quality
# filter: publishers signal machine-learning opt-out via robots-meta
# extension tokens (noai / noimageai) and the W3C TDM Reservation
# Protocol (TDMRep) — `<meta name="tdm-reservation" content="1">` with
# an optional tdm-policy URL, both also deliverable as HTTP headers
# (X-Robots-Tag / tdm-reservation). Directives UNION across sources:
# the most restrictive combination wins, exactly like robots-meta.


def ai_optout(data: bytes, headers: bytes | str | None = None) -> dict:
    """``{noai, noimageai, tdm_reservation, tdm_policy, train_allowed}``
    from an HTML payload plus an optional raw HTTP header block.
    ``tdm_reservation`` is 1/0 when declared (either channel, header
    wins only by being more restrictive) and None when absent;
    ``train_allowed`` folds the signals: 0 iff noai or a TDM
    reservation is asserted."""
    tokens: set = set()
    tdm_res = None
    tdm_policy = None
    for attrs in scan_tags(decode_html(data), "meta"):
        name = attrs.get("name", attrs.get("property", "")).lower()
        content = attrs.get("content", "").strip()
        if name == "robots" and content:
            for part in content.replace(";", ",").split(","):
                tokens.update(t for t in part.lower().split() if t)
        elif name == "tdm-reservation" and content in ("0", "1"):
            tdm_res = int(content)
        elif name == "tdm-policy" and content and tdm_policy is None:
            tdm_policy = content
    if headers:
        text = (
            headers.decode("latin-1", "replace")
            if isinstance(headers, (bytes, bytearray))
            else headers
        )
        for line in text.splitlines():
            key, _, val = line.partition(":")
            key = key.strip().lower()
            val = val.strip()
            if key == "x-robots-tag" and val:
                # optional agent prefix ("trainbot: noai") — tokens after
                # the LAST colon-separated field
                body = val.split(":")[-1]
                for part in body.replace(";", ",").split(","):
                    tokens.update(t for t in part.lower().split() if t)
            elif key == "tdm-reservation" and val in ("0", "1"):
                # most-restrictive-wins union with the meta channel
                tdm_res = max(tdm_res or 0, int(val))
            elif key == "tdm-policy" and val and tdm_policy is None:
                tdm_policy = val
    noai = int("noai" in tokens)
    noimageai = int("noimageai" in tokens)
    return {
        "noai": noai,
        "noimageai": noimageai,
        "tdm_reservation": tdm_res,
        "tdm_policy": tdm_policy,
        "train_allowed": int(not (noai or tdm_res == 1)),
    }


# --- hidden-content / cloaking audit (E171) ---------------------------------

# Inline-style values that make an element's subtree invisible in every
# real browser while remaining in the DOM text a naive extractor reads:
# the classic SEO-cloaking / keyword-stuffing vectors.
_CLOAK_STYLE_RE = re.compile(
    r"display\s*:\s*none"
    r"|visibility\s*:\s*hidden"
    r"|font-size\s*:\s*0(?:px|pt|em|rem)?\s*(?:;|$)"
    r"|text-indent\s*:\s*-\d{3,}"
    r"|(?:left|top)\s*:\s*-\d{3,}",
    re.I,
)


def _is_cloaked(attrs: str) -> bool:
    """True when a start tag's attribute text hides its subtree: the
    HTML5 ``hidden`` attribute, ``aria-hidden="true"``, or an inline
    ``style`` matching a cloaking pattern."""
    a = _parse_attrs(attrs)
    if "hidden" in a and a["hidden"].lower() != "until-found":
        return True
    if a.get("aria-hidden", "").strip().lower() == "true":
        return True
    style = a.get("style")
    return bool(style and _CLOAK_STYLE_RE.search(style))


def hidden_audit(data: bytes) -> dict:
    """Cloaked-text audit over one HTML payload.

    Walks the same token stream as :func:`segment_blocks` and splits
    would-be-content text (i.e. text NOT under the structurally-hidden
    tags ``_HIDDEN_TAGS`` — script/style/head bodies are code, not
    cloaked prose) into *visible* vs *cloaked* by the nearest enclosing
    cloak marker (``hidden`` attr, ``aria-hidden="true"``, inline
    ``display:none`` / ``visibility:hidden`` / ``font-size:0`` /
    off-screen offsets). Returns integer-only fields so the audit is
    engine-exact::

        {visible_chars, hidden_chars, n_hidden_nodes, hidden_milli}

    ``*_chars`` count non-whitespace characters (the segment_blocks
    convention); ``n_hidden_nodes`` counts cloak-SCOPE roots (a cloaked
    element inside an already-cloaked subtree is not a new scope);
    ``hidden_milli`` = floor(1000 * hidden / (visible + hidden)), 0 on
    empty. The reference has no HTML tier at all — this extends the
    E19 boilerplate strip with the spam/cloaking signal every web-scale
    quality stack carries (hidden text is invisible to users but lands
    verbatim in naive extraction).
    """
    html_text = decode_html(data)
    stack: list[tuple[str, bool, bool]] = []  # (tag, struct_hidden, cloaked)
    struct_hidden = cloaked = False
    visible = hidden_c = n_nodes = 0

    def refresh() -> tuple[bool, bool]:
        if stack:
            _, h, c = stack[-1]
            return h, c
        return False, False

    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag, attrs = m.group(1, 2, 3)
        if start_tag is not None:
            tag = start_tag.lower()
            self_closing = attrs.rstrip().endswith("/")
            if tag in _VOID or self_closing:
                continue
            if tag in _RAWTEXT:
                toks.skip_raw(tag)
                continue
            closes = _AUTOCLOSE.get(tag)
            if closes:
                popped = False
                while stack and stack[-1][0] in closes:
                    stack.pop()
                    popped = True
                if popped:
                    struct_hidden, cloaked = refresh()
            if len(stack) < _MAX_STACK:
                h = struct_hidden or tag in _HIDDEN_TAGS
                c = cloaked or _is_cloaked(attrs)
                if c and not cloaked and not h:
                    n_nodes += 1  # a new cloak scope opens
                stack.append((tag, h, c))
                struct_hidden, cloaked = h, c
        elif end_tag is not None:
            tag = end_tag.lower()
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    del stack[i:]
                    struct_hidden, cloaked = refresh()
                    break
        elif m.group(0)[0] != "<":  # text node
            if struct_hidden:
                continue
            nchars = sum(map(len, unescape(m.group(0)).split()))
            if not nchars:
                continue
            if cloaked:
                hidden_c += nchars
            else:
                visible += nchars
        # comments / CDATA / doctype / PI / stray '<': dropped
    total = visible + hidden_c
    return {
        "visible_chars": visible,
        "hidden_chars": hidden_c,
        "n_hidden_nodes": n_nodes,
        "hidden_milli": (1000 * hidden_c) // total if total else 0,
    }


# --- soft-redirect / doorway-page audit ----------------------------------------

_JS_REDIRECT_RE = re.compile(
    r"(?:window\.)?location(?:\.href)?\s*=" r"|location\.replace\s*\(",
)
_REFRESH_RE = re.compile(r"^\s*(\d{1,6})\s*(?:;\s*url\s*=\s*(\S+))?", re.I)
_HOST_RE = re.compile(r"^https?://([^/?#]+)", re.I)
_SCRIPT_RE = re.compile(r"<script\b[^>]*>(.*?)</script\s*>", re.S | re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)


def soft_redirects(data: bytes) -> dict:
    """Meta-refresh + JS-location soft redirects — the doorway-page
    signal: pages whose only content is an instant hop are crawler
    chaff (and frequent cloaking vehicles; composes with qx42's hidden
    audit and qg04's hard-redirect resolution). Meta channel via the
    shared rawtext-safe tokenizer (a refresh string in BODY TEXT can't
    flag); JS channel scans only genuine <script> bodies with HTML
    comments stripped first (a commented-out decoy can't flag).
    ``is_doorway`` = instant meta refresh (delay 0) or any JS redirect."""
    html_text = decode_html(data)
    delay = None
    target_host = None
    for attrs in scan_tags(html_text, "meta"):
        if attrs.get("http-equiv", "").strip().lower() != "refresh":
            continue
        m = _REFRESH_RE.match(attrs.get("content", ""))
        if m:
            delay = int(m.group(1))
            if m.group(2):
                hm = _HOST_RE.match(m.group(2).strip("'\""))
                if hm:
                    target_host = hm.group(1).lower()
            break
    stripped = _COMMENT_RE.sub("", html_text)
    has_js = int(
        any(
            _JS_REDIRECT_RE.search(_COMMENT_RE.sub("", body))
            for body in _SCRIPT_RE.findall(stripped)
        )
    )
    has_refresh = int(delay is not None)
    return {
        "has_meta_refresh": has_refresh,
        "refresh_delay": delay,
        "refresh_target_host": target_host,
        "has_js_redirect": has_js,
        "is_doorway": int(delay == 0 or has_js == 1),
    }


_CHARSET_META_RE = re.compile(
    rb'<meta\s[^>]*charset\s*=\s*["\']?\s*([A-Za-z0-9_][A-Za-z0-9._-]*)',
    re.IGNORECASE,
)
_XML_DECL_RE = re.compile(
    rb'<\?xml[^>]*encoding\s*=\s*["\']([A-Za-z0-9._-]+)["\']',
    re.IGNORECASE,
)


def charset_detect(data: bytes) -> dict:
    """Character-encoding detection for raw fetched bytes — the step every
    extractor runs BEFORE any parsing, and the one whose mistakes turn into
    the mojibake qx25 later has to repair. Precedence follows the WHATWG
    encoding sniff (public spec, encoding.spec.whatwg.org): a byte-order
    mark wins outright, then a declaration found in the first-1024-byte
    prescan (``<meta charset>``, ``<meta http-equiv=content-type>`` whose
    content carries ``charset=``, or an XML declaration), then a content
    heuristic — strict-UTF-8 validity of the whole payload, falling back to
    windows-1252 (the web's de-facto 8-bit default; HTML5 maps declared
    latin-1 there too). ``mismatch`` flags a declaration overridden by a
    BOM, or a UTF-8 declaration contradicted by invalid UTF-8 payload
    bytes (the mislabeled-page case) — the provenance signal a corpus
    keeps so re-decodes can be audited; the latin-1 → windows-1252
    remap is the spec's own alias, not a mismatch. The UTF-16 BOM case deliberately
    reports ``declared=None``: a byte-level prescan cannot see ``<meta`` in
    NUL-interleaved UTF-16, which is exactly why the BOM outranks it.
    """
    bom = None
    if data[:3] == b"\xef\xbb\xbf":
        bom = "utf-8"
    elif data[:2] == b"\xff\xfe":
        bom = "utf-16le"
    elif data[:2] == b"\xfe\xff":
        bom = "utf-16be"

    head = data[:1024]
    declared = None
    m = _CHARSET_META_RE.search(head)
    if m is None:
        m = _XML_DECL_RE.search(head)
    if m is not None:
        declared = m.group(1).decode("ascii", "replace").lower()

    try:
        data.decode("utf-8", "strict")
        utf8_valid = 1
    except UnicodeDecodeError:
        utf8_valid = 0

    if bom is not None:
        resolved = bom
    elif declared is not None:
        # HTML5 maps the latin-1 family onto windows-1252.
        resolved = (
            "windows-1252"
            if declared in ("iso-8859-1", "latin-1", "ascii", "us-ascii")
            else declared
        )
    else:
        resolved = "utf-8" if utf8_valid else "windows-1252"

    mismatch = int(
        (bom is not None and declared is not None and declared != bom)
        or (declared in ("utf-8", "utf8") and not utf8_valid)
    )
    return {
        "bom": bom,
        "declared": declared,
        "utf8_valid": utf8_valid,
        "resolved": resolved,
        "mismatch": mismatch,
    }


def hreflang_audit(data: bytes) -> dict:
    """Multilingual-alternate audit — the ``<link rel="alternate"
    hreflang>`` cluster declarations (Google's hreflang convention,
    public) that let a corpus group the language VERSIONS of one page:
    the seed for bitext mining (qt75 filters the candidate pairs these
    clusters produce) and for language-balanced dedup (translations
    are distinct documents, not dups). Returns::

        {page_lang, n_alternates, n_langs, has_xdefault, is_multilingual}

    ``page_lang`` is the <html lang> attribute lowercased; alternates
    count only genuine <link> tags carrying both rel=alternate and an
    hreflang (rawtext-safe — a decoy spelled inside <script> never
    counts); ``n_langs`` excludes the x-default catch-all;
    ``is_multilingual`` = at least two distinct real languages.
    """
    html_text = decode_html(data)
    page_lang = None
    for m in re.finditer(r"<html(\s[^>]*)>", html_text[:2048], re.I):
        lang = _parse_attrs(m.group(1)).get("lang")
        if lang:
            page_lang = lang.strip().lower()
        break
    n_alt = 0
    langs = set()
    has_xdefault = 0
    for attrs in scan_tags(html_text, "link"):
        rel = attrs.get("rel", "").strip().lower()
        hl = attrs.get("hreflang", "").strip().lower()
        if rel != "alternate" or not hl:
            continue
        n_alt += 1
        if hl == "x-default":
            has_xdefault = 1
        else:
            langs.add(hl)
    return {
        "page_lang": page_lang,
        "n_alternates": n_alt,
        "n_langs": len(langs),
        "has_xdefault": has_xdefault,
        "is_multilingual": int(len(langs) >= 2),
    }


def spa_shell_audit(data: bytes) -> dict:
    """JS-application-shell detection — the "empty SPA" problem every
    HTML extraction pipeline must route around: a client-rendered page
    fetches as a near-empty ``<div id="root">`` plus script tags, so
    naive extraction yields nothing (or worse, the noscript fallback
    banner) and the URL must go to a rendering tier instead. Signals
    (all integer, rawtext-safe via the shared tokenizer)::

        {text_chars, script_bytes, n_scripts, has_empty_root,
         has_noscript, script_permille, is_spa_shell}

    ``text_chars`` counts non-whitespace characters of body text
    OUTSIDE script/style; ``script_bytes`` counts characters inside
    <script> bodies plus src= tag overhead; ``has_empty_root`` is 1
    when a div with id root/app/__next (the React/Vue/Next conventions)
    closes with no text inside; ``script_permille`` =
    1000*script/(script+text) (0 when both empty); ``is_spa_shell`` =
    empty root container AND script_permille >= 900 — the router's
    send-to-renderer rule.
    """
    html_text = decode_html(data)
    text_chars = script_bytes = n_scripts = 0
    has_empty_root = has_noscript = 0
    root_depth = None  # depth inside a root/app container with no text yet
    root_text = 0
    depth = 0
    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag, attrs = m.group(1), m.group(2), m.group(3)
        if start_tag is None and end_tag is None:
            tok = m.group(0)
            if not tok.startswith("<"):
                stripped = sum(
                    1 for c in unescape(tok) if not c.isspace()
                )
                text_chars += stripped
                if root_depth is not None:
                    root_text += stripped
            continue
        if end_tag is not None:
            depth -= 1
            if root_depth is not None and depth < root_depth:
                if root_text == 0:
                    has_empty_root = 1
                root_depth = None
            continue
        low = start_tag.lower()
        if low in _RAWTEXT:
            if low == "noscript":
                has_noscript = 1
            body = toks.skip_raw(low)
            if low == "script":
                n_scripts += 1
                script_bytes += len(body)
            continue
        if low in _VOID:
            continue
        depth += 1
        if low == "div" and root_depth is None:
            did = _parse_attrs(attrs).get("id", "").strip().lower()
            if did in ("root", "app", "__next"):
                root_depth = depth
                root_text = 0
    total = script_bytes + text_chars
    script_permille = (1000 * script_bytes) // total if total else 0
    return {
        "text_chars": text_chars,
        "script_bytes": script_bytes,
        "n_scripts": n_scripts,
        "has_empty_root": has_empty_root,
        "has_noscript": has_noscript,
        "script_permille": script_permille,
        "is_spa_shell": int(has_empty_root == 1 and script_permille >= 900),
    }


_DATA_URI_RE = re.compile(
    r"""data:([A-Za-z0-9.+-]+/[A-Za-z0-9.+-]+)?"""
    r"""((?:;[A-Za-z0-9-]+=[A-Za-z0-9-]+)*)(;base64)?,""",
    re.I,
)
_B64_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/="
)


def data_uri_inventory(data: bytes) -> dict:
    """Inline data:-URI asset inventory — pages embed images/fonts as
    base64 blobs inside src/href/style attributes, and a corpus wants
    them counted and sized WITHOUT decoding (they inflate page bytes
    4/3x and are invisible to the image-URL harvester). Scans
    attribute values of genuine tags via the shared tokenizer (a
    data: URI spelled in body text or a script string never counts).
    Per RFC 2397: ``data:[mediatype][;base64],payload``. Returns::

        {n_uris, n_base64, n_images, total_decoded_bytes, max_decoded}

    Decoded size for base64 payloads is computed arithmetically
    (3 * len/4 minus padding) — no decode; non-base64 (URL-encoded)
    payloads count their literal length.
    """
    html_text = decode_html(data)
    n_uris = n_base64 = n_images = 0
    total = mx = 0
    toks = HtmlTokens(html_text)
    for m in toks:
        start_tag = m.group(2)
        if start_tag is None:
            continue
        low = start_tag.lower()
        if low in _RAWTEXT:
            toks.skip_raw(low)
            continue
        attrs = m.group(3) or ""
        for dm in _DATA_URI_RE.finditer(attrs):
            mediatype = (dm.group(1) or "text/plain").lower()
            is_b64 = dm.group(3) is not None
            # payload runs to the closing quote (or whitespace/end)
            tail = attrs[dm.end():]
            stop = len(tail)
            for ch in ('"', "'", " ", "\t", "\n", ">"):
                i = tail.find(ch)
                if i != -1 and i < stop:
                    stop = i
            payload = tail[:stop]
            n_uris += 1
            if mediatype.startswith("image/"):
                n_images += 1
            if is_b64:
                n_base64 += 1
                raw = "".join(c for c in payload if c in _B64_CHARS)
                pad = raw.count("=")
                size = max(0, (len(raw) * 3) // 4 - pad)
            else:
                size = len(payload)
            total += size
            mx = max(mx, size)
    return {
        "n_uris": n_uris,
        "n_base64": n_base64,
        "n_images": n_images,
        "total_decoded_bytes": total,
        "max_decoded": mx,
    }


_SRCSET_DESC_RE = re.compile(r"^(\d+)w$|^(\d+(?:\.\d+)?)x$")


def srcset_audit(data: bytes) -> dict:
    """Responsive-image candidate parsing (the HTML ``srcset``
    microsyntax, WHATWG) — the image harvester must pick ONE url per
    <img>, and naive "take src" grabs the low-res placeholder while
    the real asset hides in srcset. Parses every genuine <img>'s
    srcset (comma-separated ``url [NNNw | N.Nx]`` candidates;
    rawtext-safe), elects the best candidate per image (largest width
    descriptor, else largest density, else the bare candidate) and
    aggregates::

        {n_images, n_with_srcset, n_candidates, max_width,
         n_density_only, n_best_is_srcset}

    ``n_best_is_srcset`` counts images whose elected url came from
    srcset rather than src — the fraction a src-only harvester gets
    wrong.
    """
    n_images = n_with = n_cand = 0
    max_width = 0
    n_density_only = n_best = 0
    for a in scan_tags(decode_html(data), "img"):
        n_images += 1
        srcset = a.get("srcset", "").strip()
        if not srcset:
            continue
        n_with += 1
        best_w = -1
        best_x = -1.0
        any_width = False
        for cand in srcset.split(","):
            parts = cand.strip().split()
            if not parts:
                continue
            n_cand += 1
            if len(parts) >= 2:
                dm = _SRCSET_DESC_RE.match(parts[1])
                if dm and dm.group(1) is not None:
                    w = int(dm.group(1))
                    any_width = True
                    max_width = max(max_width, w)
                    best_w = max(best_w, w)
                    continue
                if dm and dm.group(2) is not None:
                    best_x = max(best_x, float(dm.group(2)))
                    continue
        if not any_width and best_x > 0:
            n_density_only += 1
        if best_w > 0 or best_x > 0 or srcset:
            n_best += 1
    return {
        "n_images": n_images,
        "n_with_srcset": n_with,
        "n_candidates": n_cand,
        "max_width": max_width,
        "n_density_only": n_density_only,
        "n_best_is_srcset": n_best,
    }


_URL_DATE_RE = re.compile(r"/(20\d{2})/(\d{2})(?:/(\d{2}))?/")
_TIME_DT_RE = re.compile(r"^(20\d{2})-(\d{2})-(\d{2})")


def pubdate_election(data: bytes, url: str = "") -> dict:
    """Published-date election — freshness weighting needs ONE date per
    page, but pages declare it in competing channels that routinely
    disagree: ``<meta property="article:published_time">`` (Open Graph,
    most reliable when present), a ``<time datetime=...>`` element, and
    the URL path's ``/YYYY/MM/DD/`` convention. Election order is that
    priority; each channel is parsed defensively (4-digit year 20xx,
    zero-padded month/day, month 1..12, day 1..31). Returns::

        {date_meta, date_time_tag, date_url, elected, n_channels,
         disagree}

    Dates are integer ``YYYYMMDD`` (0 placeholder days allowed for
    URL month-only paths); ``disagree`` flags any two present channels
    differing — the audit signal for date-spoofed SEO pages.
    """
    html_text = decode_html(data)
    date_meta = date_time = None
    for attrs in scan_tags(html_text, "meta"):
        prop = attrs.get("property", attrs.get("name", "")).lower()
        if prop == "article:published_time" and date_meta is None:
            m = _TIME_DT_RE.match(attrs.get("content", "").strip())
            if m:
                y, mo, dy = int(m.group(1)), int(m.group(2)), int(m.group(3))
                if 1 <= mo <= 12 and 1 <= dy <= 31:
                    date_meta = y * 10000 + mo * 100 + dy
    for tm in scan_tags(html_text, "time"):
        if date_time is not None:
            break
        m = _TIME_DT_RE.match(tm.get("datetime", "").strip())
        if m:
            y, mo, dy = int(m.group(1)), int(m.group(2)), int(m.group(3))
            if 1 <= mo <= 12 and 1 <= dy <= 31:
                date_time = y * 10000 + mo * 100 + dy
    date_url = None
    m = _URL_DATE_RE.search(url)
    if m:
        y, mo = int(m.group(1)), int(m.group(2))
        dy = int(m.group(3)) if m.group(3) else 0
        if 1 <= mo <= 12 and 0 <= dy <= 31:
            date_url = y * 10000 + mo * 100 + dy
    present = [d for d in (date_meta, date_time, date_url) if d is not None]
    elected = date_meta or date_time or date_url
    # two channels disagree when their DAY-level dates differ; a
    # month-only URL date (day 0) compares at month granularity
    disagree = 0
    for i in range(len(present)):
        for j in range(i + 1, len(present)):
            a, b = present[i], present[j]
            if a % 100 == 0 or b % 100 == 0:
                if a // 100 != b // 100:
                    disagree = 1
            elif a != b:
                disagree = 1
    return {
        "date_meta": date_meta,
        "date_time_tag": date_time,
        "date_url": date_url,
        "elected": elected,
        "n_channels": len(present),
        "disagree": disagree,
    }


_HOST_RE = re.compile(r"^[a-z][a-z0-9+.-]*://([^/?#]+)", re.I)


def third_party_audit(data: bytes, page_url: str = "") -> dict:
    """Third-party resource audit — the tracking/bloat signal: how much
    of a page's subresource surface (script/img/iframe src, stylesheet
    link href) points off-host? High third-party share correlates with
    ad-tech boilerplate and identifies pages whose rendering depends
    on external state (bad candidates for static extraction).
    Attribute-scoped via the shared tokenizer (script-string decoys
    can't count); scheme-relative ``//host/...`` URLs resolve against
    the page scheme; relative paths and data: URIs are first-party by
    definition. Returns::

        {n_resources, n_third_party, n_hosts, n_iframes,
         third_party_permille}
    """
    html_text = decode_html(data)
    m = _HOST_RE.match(page_url.strip().lower())
    page_host = m.group(1).split("@")[-1].split(":")[0] if m else ""
    n_res = n_tp = n_iframes = 0
    hosts = set()
    toks = HtmlTokens(html_text)
    for tk in toks:
        start_tag = tk.group(2)
        if start_tag is None:
            continue
        low = start_tag.lower()
        if low in _RAWTEXT:
            toks.skip_raw(low)
            if low != "script":
                continue
            a = _parse_attrs(tk.group(3) or "")
            url = a.get("src", "").strip()
        elif low in ("img", "iframe"):
            a = _parse_attrs(tk.group(3) or "")
            url = a.get("src", "").strip()
            if low == "iframe":
                n_iframes += 1
        elif low == "link":
            a = _parse_attrs(tk.group(3) or "")
            if "stylesheet" not in a.get("rel", "").lower():
                continue
            url = a.get("href", "").strip()
        else:
            continue
        if not url:
            continue
        n_res += 1
        lu = url.lower()
        if lu.startswith("data:"):
            continue
        if lu.startswith("//"):
            host = lu[2:].split("/")[0].split("?")[0]
        else:
            hm = _HOST_RE.match(lu)
            if hm is None:
                continue  # relative: first-party
            host = hm.group(1).split("@")[-1].split(":")[0]
        if host and host != page_host:
            n_tp += 1
            hosts.add(host)
    return {
        "n_resources": n_res,
        "n_third_party": n_tp,
        "n_hosts": len(hosts),
        "n_iframes": n_iframes,
        "third_party_permille": (1000 * n_tp) // n_res if n_res else 0,
    }


_LANG_STOPWORDS = {
    "en": frozenset("the and of to in is for with that this".split()),
    "fr": frozenset("le la les des une dans est pour avec que".split()),
    "de": frozenset("der die das und ist nicht mit ein für den".split()),
    "es": frozenset("el la los las una en es para con que".split()),
}


def lang_conflict_audit(data: bytes, headers: bytes | str = "") -> dict:
    """Language-channel consistency — a page's language is declared in
    up to three places that routinely disagree on mistagged or
    machine-translated sites: the ``Content-Language`` HTTP header,
    the ``<html lang>`` attribute, and the text itself (stopword
    vote, the qt04 heuristic applied at the page level). Training
    pipelines key mixture weights on language, so a mislabeled page
    lands in the wrong bucket twice — once at filter, once at
    allocation. Returns::

        {lang_header, lang_attr, lang_text, n_declared, conflict}

    ``lang_text`` is the stopword-vote winner among en/fr/de/es (ties
    break alphabetically, None when no stopword hits); ``conflict``
    flags any two PRESENT channels disagreeing on the primary subtag.
    """
    text_h = (
        headers.decode("latin-1", "replace")
        if isinstance(headers, (bytes, bytearray))
        else (headers or "")
    )
    lang_header = None
    for line in text_h.splitlines():
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-language" and v.strip():
            lang_header = v.strip().split(",")[0].strip().lower()
            break
    html_text = decode_html(data)
    lang_attr = None
    m = re.search(r"<html(\s[^>]*)>", html_text[:2048], re.I)
    if m:
        val = _parse_attrs(m.group(1)).get("lang", "").strip().lower()
        lang_attr = val or None
    words = re.findall(r"[a-zà-ÿ]+", html_text.lower())
    scores = {
        lang: sum(1 for w in words if w in sw)
        for lang, sw in _LANG_STOPWORDS.items()
    }
    best = max(scores.values()) if scores else 0
    lang_text = (
        min(lang for lang, s in scores.items() if s == best)
        if best > 0 else None
    )
    primaries = [
        v.split("-")[0]
        for v in (lang_header, lang_attr, lang_text)
        if v is not None
    ]
    return {
        "lang_header": lang_header,
        "lang_attr": lang_attr,
        "lang_text": lang_text,
        "n_declared": len(primaries),
        "conflict": int(len(set(primaries)) > 1),
    }


_LDJSON_BLOCK_RE = re.compile(
    r"<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>(.*?)"
    r"</script>",
    re.I | re.S,
)
_ACCESS_FLAG_RE = re.compile(
    r'"isAccessibleForFree"\s*:\s*(true|false|"true"|"false")', re.I
)
_PAYWALL_CLASS_RE = re.compile(
    r'class\s*=\s*["\'][^"\']*\b(paywall|meter(?:ed)?-gate|regwall)\b',
    re.I,
)


def paywall_audit(data: bytes) -> dict:
    """Paywall/metered-content detection — news corpora must know
    whether extracted text is the full article or a teaser: the
    schema.org ``isAccessibleForFree`` flag (the channel Google's
    paywalled-content policy standardized, so news CMSes emit it
    reliably) is read ONLY from ``application/ld+json`` script
    blocks; a structural class-name channel (paywall/regwall/meter
    gates) corroborates. Returns::

        {n_ldjson_blocks, has_access_flag, is_paywalled,
         has_paywall_class}

    ``is_paywalled`` is None when no channel is present (unknown ≠
    free) — the tri-state a downstream filter needs.
    """
    html_text = decode_html(data)
    blocks = _LDJSON_BLOCK_RE.findall(html_text)
    flag = None
    for b in blocks:
        m = _ACCESS_FLAG_RE.search(b)
        if m:
            flag = m.group(1).strip('"').lower() == "false"
            break
    has_class = int(_PAYWALL_CLASS_RE.search(html_text) is not None)
    if flag is None and not has_class:
        paywalled = None
    else:
        paywalled = int(bool(flag) or (flag is None and has_class))
    return {
        "n_ldjson_blocks": len(blocks),
        "has_access_flag": int(flag is not None),
        "is_paywalled": paywalled,
        "has_paywall_class": has_class,
    }
