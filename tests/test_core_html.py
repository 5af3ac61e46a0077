"""HTML tier unit tests: sniffing, decoding, tokenizing, classification."""

import pytest

from pdf_spark.core.extract import assemble_text, extract_document
from pdf_spark.core.htmltext import (
    decode_html,
    extract_main_blocks,
    extract_main_text,
    looks_like_html,
)


def _page(body: str, head: str = "<head><title>t</title></head>") -> bytes:
    return f"<!doctype html><html>{head}<body>{body}</body></html>".encode()


# --- sniffing ---------------------------------------------------------------


def test_sniff_positive_forms():
    assert looks_like_html(b"<!DOCTYPE html><html></html>")
    assert looks_like_html(b"<!doctype HTML\n><html>")
    assert looks_like_html(b"<html lang='en'>")
    assert looks_like_html(b"<HTML>")
    assert looks_like_html(b"  \r\n\t<!doctype html>x")
    assert looks_like_html(b"\xef\xbb\xbf<html>")


def test_sniff_negative_forms():
    assert not looks_like_html(b"%PDF-1.4 ...")
    assert not looks_like_html(b"<div>plain tag soup</div>")
    assert not looks_like_html(b"<htmlish>")
    assert not looks_like_html(b"plain text < html >")
    assert not looks_like_html(b"")


def test_pdf_path_untouched_by_dispatch():
    from pdf_spark.gen.pdfgen import generate_doc

    pdf, expected, _, _ = generate_doc("dispatch check", 0)
    r = extract_document(pdf)
    assert r.ok and assemble_text(r.spans) == expected


# --- decoding ---------------------------------------------------------------


def test_decode_meta_charset():
    raw = (
        b'<html><head><meta charset="iso-8859-1"></head>'
        b"<body><p>caf\xe9</p></body></html>"
    )
    assert "caf\xe9" in decode_html(raw)


def test_decode_bom_and_utf8_fallback():
    assert decode_html("<html>é".encode("utf-8-sig")) == "<html>é"
    # invalid utf-8, no charset -> windows-1252, never raises
    assert "’" in decode_html(b"<html><body>it\x92s</body></html>")


def test_decode_bad_charset_name_falls_back():
    raw = b'<html><head><meta charset="no-such-enc"></head><body>ok</body></html>'
    assert "ok" in decode_html(raw)


# --- tokenizer / segmentation ----------------------------------------------


def test_script_style_bodies_never_leak():
    b = _page(
        "<p>keep this line of article text which is long enough to stand</p>"
        "<script>var x = '<p>fake</p>'; if (a < b) {}</script>"
        "<style>p > span { color: red }</style>"
        "<p>and keep this second line of article text too thank you</p>"
    )
    t = extract_main_text(b)
    assert "fake" not in t and "color" not in t
    assert "keep this line" in t and "second line" in t


def test_comments_cdata_doctype_dropped():
    b = _page(
        "<!-- a comment with <p>markup</p> inside -->"
        "<p>real content line that is definitely long enough to classify</p>"
        "<![CDATA[ not text ]]><?php also not ?>"
    )
    t = extract_main_text(b)
    assert t == "real content line that is definitely long enough to classify"


def test_quoted_attr_with_gt():
    b = _page(
        '<div title="a > b" data-x=\'c > d\'>'
        "<p>attribute escaping works and this text is long enough to keep</p>"
        "</div>"
    )
    assert extract_main_text(b) == (
        "attribute escaping works and this text is long enough to keep"
    )


def test_entities_and_nbsp_normalise():
    b = _page("<p>fish &amp; chips&nbsp;&nbsp;with &lt;extra&gt; salt on the side</p>")
    assert extract_main_text(b) == "fish & chips with <extra> salt on the side"


def test_unterminated_comment_and_tag_no_crash():
    for payload in (
        b"<html><body><p>text then <!-- never closed",
        b"<html><body><p>text then <div class='x",
        b"<html><body><p>stray < less-than </p></body>",
    ):
        r = extract_document(payload + b" " * 16)
        assert r.status == "ok"


def test_head_and_title_hidden():
    b = _page(
        "<p>body content line long enough to be kept as the main text</p>",
        head="<head><title>The Page Title</title></head>",
    )
    t = extract_main_text(b)
    assert "Page Title" not in t and "body content" in t


# --- classification ---------------------------------------------------------


def test_nav_header_footer_aside_stripped():
    b = _page(
        "<header><h1>Site Name</h1></header>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<p>the single content paragraph is long enough to be kept here</p>"
        "<aside>promo text</aside><footer>copyright notice</footer>"
    )
    assert extract_main_text(b) == (
        "the single content paragraph is long enough to be kept here"
    )


def test_class_hint_kills_subtree():
    b = _page(
        "<div class='cookie-banner'>We use cookies on this very long banner"
        " line that would otherwise classify as content text</div>"
        "<p>actual article text that is long enough to stand on its own</p>"
    )
    assert extract_main_text(b) == (
        "actual article text that is long enough to stand on its own"
    )


def test_link_density_kills_link_farm_without_hints():
    b = _page(
        "<div><a href='1'>one link</a> <a href='2'>two link</a>"
        " <a href='3'>three link</a> and</div>"
        "<p>real paragraph content long enough to anchor classification</p>"
    )
    assert extract_main_text(b) == (
        "real paragraph content long enough to anchor classification"
    )


def test_main_ctx_keeps_short_blocks():
    b = _page("<main><article><p>hi</p><p>yo</p></article></main>")
    assert extract_main_text(b) == "hi\nyo"


def test_short_blocks_inherit_good_neighbour():
    b = _page(
        "<p>a genuinely long opening paragraph that anchors the page text</p>"
        "<p>tail</p>"
    )
    assert extract_main_text(b).endswith("\ntail")


def test_implied_end_tag_ctx_does_not_leak():
    # first <li> carries a boiler hint; the implied close before the second
    # <li> must drop that context (regression: ctx refresh after autoclose)
    b = _page(
        "<ul><li class='menu-item'>Nav entry"
        "<li>plain list item text that is long enough to classify good</ul>"
    )
    t = extract_main_text(b)
    assert "plain list item" in t and "Nav entry" not in t


def test_plain_page_all_kept():
    b = _page("<p>short</p><p>also short</p>")
    assert extract_main_text(b) == "short\nalso short"


def test_nav_only_page_empty():
    b = _page("<nav><a href='/'>Home</a> <a href='/b'>B</a></nav>")
    assert extract_main_text(b) == ""


def test_deep_nesting_capped_no_crash():
    b = _page("<div>" * 1000 + "<p>deep text long enough to classify as content</p>")
    assert "deep text" in extract_main_text(b)


# --- span bridge ------------------------------------------------------------


def test_html_spans_order_and_assembly():
    b = _page(
        "<main><p>first block</p><p>second block</p><p>third block</p></main>"
    )
    r = extract_document(b)
    assert r.ok and r.n_pages == 1
    assert [s.text for s in r.spans] == ["first block", "second block", "third block"]
    assert assemble_text(r.spans) == "first block\nsecond block\nthird block"
    # spans carry the synthetic geometry contract (page 0, y = -index)
    assert [(s.page, s.y) for s in r.spans] == [(0, 0.0), (0, -1.0), (0, -2.0)]


def test_html_variant_generators_roundtrip():
    from pdf_spark.gen.htmlgen import (
        expected_for_variant,
        html_article,
        html_messy,
        html_table_list,
        html_win1251,
    )

    lines = ["alpha beta gamma delta epsilon zeta eta theta iota kappa", "x"]
    for fn, name in (
        (html_article, "html_article"),
        (html_messy, "html_messy"),
        (html_table_list, "html_table_list"),
        (html_win1251, "html_win1251"),
    ):
        got = extract_main_text(fn(lines))
        assert got == expected_for_variant(name, lines), name


def test_win1251_charset_discriminates():
    # the windows-1251 page decodes to Cyrillic only via the meta-charset
    # sniff; the cp1252 fallback would yield different (accented-Latin) text
    from pdf_spark.gen.htmlgen import WIN1251_SUBST, html_win1251

    data = html_win1251(["economy once more"])
    text = extract_main_text(data)
    assert WIN1251_SUBST["e"] in text and WIN1251_SUBST["o"] in text
    # and the raw bytes are NOT valid UTF-8 (so the sniff, not the
    # fallback chain, must be doing the work)
    import pytest

    with pytest.raises(UnicodeDecodeError):
        data.decode("utf-8")


def test_html_fuzz_never_raises_and_deterministic():
    """Random tag soup through the dispatch path: no exception may escape
    (bad doc = row, not task failure) and extraction is deterministic."""
    import random

    rng = random.Random(20260817)
    frags = [
        "<div", "<p>", "</p>", ">", '"', "'", "<a href='x'>", "</a>",
        "<!--", "-->", "<script>", "</script>", "text word ", "&amp;",
        "&#65;", "&unknown;", "<![CDATA[", "]]>", "</", "<", "\x00", "é",
        "<table><tr><td>", "</li>", "<li>", "<meta charset=latin-1>",
        "<style>", "p{", "<br>", "<input type=text>", "\n", "  ",
    ]
    for trial in range(300):
        body = "".join(rng.choice(frags) for _ in range(rng.randint(1, 120)))
        payload = ("<!doctype html><html>" + body).encode("utf-8", "replace")
        r1 = extract_document(payload)
        r2 = extract_document(payload)
        assert r1.status in ("ok", "error"), trial
        assert [s.text for s in r1.spans] == [s.text for s in r2.spans], trial


def test_html_fuzz_mutated_bytes_never_raise():
    """Byte-level mutations of a real page (including into multi-byte
    UTF-8 sequences) stay inside the never-raise contract."""
    import random

    from pdf_spark.gen.htmlgen import html_article

    rng = random.Random(7)
    base = bytearray(html_article(["mutation base line with words"]))
    for _ in range(300):
        data = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        r = extract_document(bytes(data))
        assert r.status in ("ok", "error")


# --- structured extraction (links / tables) ---------------------------------


def test_extract_links_order_and_forms():
    from pdf_spark.core.htmltext import extract_links

    b = (
        b"<html><body>"
        b"<a href='/one'>1</a>"
        b'<a href="/two?a=b&amp;c=d">2</a>'
        b"<a href=bare>3</a>"
        b"<a name='anchor-no-href'>4</a>"
        b"<script>var a = '<a href=\"/fake\">x</a>';</script>"
        b"<a href=''>empty</a>"
        b"</body></html>"
    )
    assert extract_links(b) == ["/one", "/two?a=b&c=d", "bare"]


def test_extract_tables_shapes():
    from pdf_spark.core.htmltext import extract_tables

    b = (
        b"<html><body><table>"
        b"<tr><td>a</td><th>b &amp; c</th></tr>"
        b"<tr><td>d<table><tr><td>inner</td></tr></table>"
        b"<tr><td>e</table></body></html>"
    )
    assert extract_tables(b) == [
        (0, 0, 0, "a"),
        (0, 0, 1, "b & c"),
        (0, 1, 0, "d"),
        (1, 0, 0, "inner"),
        (0, 2, 0, "e"),
    ]


def test_extract_tables_implied_row_and_no_table():
    from pdf_spark.core.htmltext import extract_tables

    # td with no tr: implied row 0; td outside any table: ignored
    assert extract_tables(b"<html><table><td>x</td></table>") == [(0, 0, 0, "x")]
    assert extract_tables(b"<html><body><td>stray</td></body>") == []


def test_links_tables_never_raise_on_soup():
    import random

    from pdf_spark.core.htmltext import extract_links, extract_tables

    rng = random.Random(99)
    frags = [
        "<a href=", "'x'", ">", "<table>", "<tr>", "<td>", "</table>",
        "</td>", "text ", "<a>", "</a>", "&amp;", "<script>", "</script>",
        '"q"', "<", "</", "<th>", "</tr>",
    ]
    for _ in range(200):
        soup = "<html>" + "".join(
            rng.choice(frags) for _ in range(rng.randint(1, 80))
        )
        data = soup.encode()
        extract_links(data)
        extract_tables(data)


# --- gzip transport ----------------------------------------------------------


def test_gzip_html_and_pdf_roundtrip():
    import gzip

    from pdf_spark.gen.htmlgen import html_article
    from pdf_spark.gen.pdfgen import generate_doc

    lines = ["gzip transported content line with several words inside"]
    wrapped = gzip.compress(html_article(lines), mtime=0)
    r = extract_document(wrapped)
    assert r.ok and assemble_text(r.spans) == lines[0]

    pdf, exp, _, _ = generate_doc("gzip pdf payload", 0)
    r2 = extract_document(gzip.compress(pdf, mtime=0))
    assert r2.ok and assemble_text(r2.spans) == exp


def test_gzip_corrupt_and_bomb_guard():
    import gzip

    from pdf_spark.gen.htmlgen import html_article

    good = gzip.compress(html_article(["x"]), mtime=0)
    # corrupt body -> FILTER_ERROR row
    r = extract_document(good[:10] + b"\x00\x00\x00\x00" + good[14:])
    assert r.status == "error" and r.error_code == "FILTER_ERROR"
    # truncated stream -> error row
    assert extract_document(good[:-4]).status == "error"
    # bomb: 64 MB of zeros compresses tiny; cap at 1 MB must reject as a
    # bounded error row (decompressed size wins over wire size)
    bomb = gzip.compress(b"\x00" * (64 << 20), mtime=0)
    r3 = extract_document(bomb, max_bytes=1 << 20)
    assert r3.status == "error"


def test_payload_kind_routing():
    import gzip

    from pdf_spark.core.extract import payload_kind
    from pdf_spark.gen.htmlgen import html_article
    from pdf_spark.gen.pdfgen import generate_doc

    html = html_article(["k"])
    pdf = generate_doc("k", 0)[0]
    assert payload_kind(html) == "html"
    assert payload_kind(pdf) == "pdf"
    assert payload_kind(gzip.compress(html, mtime=0)) == "html"
    assert payload_kind(gzip.compress(pdf, mtime=0)) == "pdf"
    assert payload_kind(b"\x1f\x8bgarbage") == "pdf"


# --- headings + anchor text (session-4 structured extraction) ------------------

def test_extract_headings():
    from pdf_spark.core.htmltext import extract_headings

    page = (b"<html><body><h1>Main &amp; Title</h1><p>x</p>"
            b"<h2>Section <em>One</em></h2>"
            b"<script>var h = '<h3>fake</h3>';</script>"
            b"<h3></h3>"  # empty: dropped
            b"<h2>Unclosed heading"
            b"<h4>After</h4></body></html>")
    assert extract_headings(page) == [
        (1, "Main & Title"), (2, "Section One"),
        (2, "Unclosed heading"), (4, "After"),
    ]
    # nested block content belongs to the open heading (HTML5: only
    # another heading or its end tag closes h2)
    assert extract_headings(b"<h2>T <p>inner</p>") == [(2, "T inner")]
    assert extract_headings(b"no headings at all") == []


def test_extract_links_with_text():
    from pdf_spark.core.htmltext import extract_links_with_text

    page = (b'<html><body><a href="/a">First <b>link</b></a>'
            b'<a href="/b">second</a> plain'
            b"<a>no href</a>"
            b'<a href="/c">unclosed runs to next'
            b'<a href="/d"></a></body></html>')
    assert extract_links_with_text(page) == [
        ("/a", "First link"), ("/b", "second"),
        ("/c", "unclosed runs to next"), ("/d", ""),
    ]


def test_headings_anchors_fuzz_never_raise():
    import random

    from pdf_spark.core.htmltext import extract_headings, extract_links_with_text

    rng = random.Random(4141)
    base = (b'<html><h1>T</h1><a href="/x">y</a>'
            b"<script>s</script><h2>U</h2></html>")
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        data = bytes(buf)
        assert extract_headings(data) == extract_headings(data)
        assert extract_links_with_text(data) == extract_links_with_text(data)


class TestMarkdown:
    """extract_markdown: structure-preserving serializer over the same
    classified blocks as extract_main_text."""

    def test_headings_lists_quotes(self):
        page = (
            b"<html><body><main><article>"
            b"<h1>Top</h1><h3>Sub level</h3>"
            b"<p>A paragraph of reasonable length for the classifier.</p>"
            b"<ul><li>first item</li><li>second item</li></ul>"
            b"<blockquote>quoted words</blockquote>"
            b"<pre>code &amp; stuff</pre>"
            b"</article></main></body></html>"
        )
        from pdf_spark.core.htmltext import extract_markdown

        assert extract_markdown(page) == (
            "# Top\n\n### Sub level\n\n"
            "A paragraph of reasonable length for the classifier.\n\n"
            "- first item\n- second item\n\n"
            "> quoted words\n\n"
            "```\ncode & stuff\n```"
        )

    def test_separate_lists_get_blank_line(self):
        page = (
            b"<html><body><main>"
            b"<ul><li>alpha one</li></ul>"
            b"<p>between paragraph text here</p>"
            b"<ul><li>beta two</li></ul>"
            b"</main></body></html>"
        )
        from pdf_spark.core.htmltext import extract_markdown

        assert extract_markdown(page) == (
            "- alpha one\n\nbetween paragraph text here\n\n- beta two"
        )

    def test_markdown_strips_boilerplate_same_as_text(self):
        from pdf_spark.core.htmltext import extract_main_text, extract_markdown
        from pdf_spark.gen.htmlgen import html_article

        page = html_article(["one content line that is long enough to keep"])
        assert extract_markdown(page) == extract_main_text(page)

    def test_variant_matrix_markdown(self):
        from pdf_spark.core.htmltext import extract_markdown
        from pdf_spark.gen import htmlgen as hg
        from pdf_spark.gen.pdfgen import wrap_lines

        lines = wrap_lines("structured markdown payload words " * 8)
        for name in ("html_article", "html_messy", "html_table_list",
                     "html_win1251", "html_structured"):
            page = getattr(hg, name)(lines)
            assert extract_markdown(page) == \
                hg.expected_markdown_for_variant(name, lines), name


class TestMojibakeRepair:
    def test_double_utf8_repaired(self):
        from pdf_spark.core.htmltext import _repair_double_utf8

        orig = "Un café élégant à São Paulo — ação, 10€ de órgão"
        assert _repair_double_utf8(orig.encode("utf-8").decode("latin-1")) == orig

    def test_cp1252_flavour_repaired(self):
        from pdf_spark.core.htmltext import _repair_double_utf8

        # chars whose UTF-8 bytes are all cp1252-mappable (no 0x81/0x8d/
        # 0x8f/0x90/0x9d continuation bytes — those arrive as U+FFFD and
        # are unrecoverable, which ftfy calls "sloppy-1252" territory)
        orig = "curly “quotes and – dashes — and €uro"
        moji = orig.encode("utf-8").decode("cp1252")
        assert _repair_double_utf8(moji) == orig

    def test_triple_encoding_two_passes(self):
        from pdf_spark.core.htmltext import _repair_double_utf8

        orig = "ação é órgão común"
        moji2 = (orig.encode("utf-8").decode("latin-1")
                 .encode("utf-8").decode("latin-1"))
        assert _repair_double_utf8(moji2) == orig

    def test_genuine_accents_untouched(self):
        from pdf_spark.core.htmltext import _repair_double_utf8

        clean = "naïve café résumé — déjà vu"
        assert _repair_double_utf8(clean) == clean

    def test_variant_end_to_end(self):
        from pdf_spark.core.htmltext import extract_main_text, extract_markdown
        from pdf_spark.gen import htmlgen as hg
        from pdf_spark.gen.pdfgen import wrap_lines

        lines = wrap_lines("repair sample about economy and culture " * 6)
        page = hg.html_mojibake(lines)
        assert extract_main_text(page) == \
            hg.expected_for_variant("html_mojibake", lines)
        assert extract_markdown(page) == \
            hg.expected_markdown_for_variant("html_mojibake", lines)


class TestLinkRelations:
    def test_document_order_and_hreflang_lowercase(self):
        from pdf_spark.core.htmltext import extract_link_relations

        page = (b'<html><head>'
                b'<link rel="canonical" href="https://ex.org/a">'
                b'<link rel="alternate" hreflang="EN-US" href="/en">'
                b'<link rel="next" href="?p=2">'
                b'<link rel="amphtml" href="https://amp/a">'
                b'</head><body>x</body></html>')
        assert extract_link_relations(page) == [
            ("canonical", None, "https://ex.org/a"),
            ("alternate", "en-us", "/en"),
            ("next", None, "?p=2"),
            ("amphtml", None, "https://amp/a"),
        ]

    def test_multi_token_rel_emits_each_tracked(self):
        from pdf_spark.core.htmltext import extract_link_relations

        # rel is a space-separated token set; one row per tracked token,
        # untracked tokens (nofollow) ignored
        page = b'<link rel="alternate nofollow amphtml" href="/x">'
        assert extract_link_relations(page) == [
            ("alternate", None, "/x"),
            ("amphtml", None, "/x"),
        ]

    def test_untracked_and_missing_href_dropped(self):
        from pdf_spark.core.htmltext import extract_link_relations

        page = (b'<link rel="stylesheet" href="/s.css">'
                b'<link rel="next">'
                b'<link rel="prev" href="">')
        assert extract_link_relations(page) == []

    def test_rawtext_body_cannot_fake_links(self):
        from pdf_spark.core.htmltext import extract_link_relations

        page = (b'<head><link rel="canonical" href="/real"></head>'
                b'<script>var s = \'<link rel="canonical" '
                b'href="https://evil/x">\';</script>')
        assert extract_link_relations(page) == [("canonical", None, "/real")]

    def test_cap_bounds_adversarial_repetition(self):
        from pdf_spark.core.htmltext import (
            LINK_REL_CAP,
            extract_link_relations,
        )

        page = b'<link rel="next" href="/n">' * (LINK_REL_CAP + 100)
        assert len(extract_link_relations(page)) == LINK_REL_CAP


class TestBaseHref:
    def test_first_base_wins(self):
        from pdf_spark.core.htmltext import extract_html_meta

        page = (b'<head><base href="/first/"><base href="/second/"></head>'
                b'<body>x</body>')
        assert extract_html_meta(page)["base"] == "/first/"

    def test_no_base_is_none_and_empty_href_skipped(self):
        from pdf_spark.core.htmltext import extract_html_meta

        assert extract_html_meta(b"<body>x</body>")["base"] is None
        assert extract_html_meta(b'<base href="">')["base"] is None

    def test_rawtext_cannot_fake_base(self):
        from pdf_spark.core.htmltext import extract_html_meta

        page = b'<script>var b = \'<base href="/evil/">\';</script>'
        assert extract_html_meta(page)["base"] is None


# --- AI-training opt-out (noai / TDM Reservation) ------------------------------


def test_ai_optout_meta_channels():
    from pdf_spark.core.htmlaudit import ai_optout

    h = (b"<html><head><meta name='robots' content='noindex, noai'>"
         b"<meta name='tdm-reservation' content='1'>"
         b"<meta name='tdm-policy' content='https://ex.com/p.json'>"
         b"</head><body>x</body></html>")
    assert ai_optout(h) == {
        "noai": 1, "noimageai": 0, "tdm_reservation": 1,
        "tdm_policy": "https://ex.com/p.json", "train_allowed": 0,
    }
    clean = ai_optout(b"<html><meta name='robots' content='all'></html>")
    assert clean["train_allowed"] == 1 and clean["tdm_reservation"] is None


def test_ai_optout_header_channel_and_union():
    from pdf_spark.core.htmlaudit import ai_optout

    r = ai_optout(b"<html><body>clean</body></html>",
                  headers="X-Robots-Tag: trainbot: noimageai\r\n"
                          "tdm-reservation: 1\r\nServer: x")
    assert (r["noimageai"], r["tdm_reservation"], r["train_allowed"]) == (1, 1, 0)
    # most-restrictive wins when meta says 0 and header says 1
    mix = ai_optout(b"<meta name='tdm-reservation' content='0'>",
                    headers="tdm-reservation: 1")
    assert mix["tdm_reservation"] == 1 and mix["train_allowed"] == 0


def test_ai_optout_rawtext_decoy_not_honored():
    from pdf_spark.core.htmlaudit import ai_optout

    fake = (b"<html><script>var s = \"<meta name='robots'"
            b" content='noai'>\";</script><body>t</body></html>")
    assert ai_optout(fake)["train_allowed"] == 1


def test_hidden_audit_cloak_vectors():
    from pdf_spark.core.htmlaudit import hidden_audit

    # every inline cloak vector + the hidden/aria attributes hide text;
    # head/title is structural, not cloaked
    h = (
        b"<html><head><title>tt</title></head><body>"
        b"<p>vvvv vv</p>"
        b'<div style="display: none">aaa</div>'
        b"<span hidden>bb</span>"
        b'<i aria-hidden="true">c</i>'
        b'<p style="text-indent:-9999px">dd</p>'
        b'<em style="font-size:0">e</em>'
        b"</body></html>"
    )
    r = hidden_audit(h)
    assert r["visible_chars"] == 6
    assert r["hidden_chars"] == 9
    assert r["n_hidden_nodes"] == 5
    assert r["hidden_milli"] == 600


def test_hidden_audit_nested_scope_and_decoy():
    from pdf_spark.core.htmlaudit import hidden_audit

    # nested cloaked elements are ONE scope (chars counted once); a
    # display:none inside a <script> string is rawtext, never honored;
    # hidden="until-found" is searchable per HTML5, so not cloaked
    h = (
        b"<body><p>vv</p>"
        b'<div aria-hidden="true"><p>aaa</p>'
        b'<span style="visibility:hidden">bb</span></div>'
        b"<script>var s = \"<div style='display:none'>zzz</div>\";</script>"
        b'<p hidden="until-found">ok</p>'
        b"</body>"
    )
    r = hidden_audit(h)
    assert r["visible_chars"] == 4  # vv + ok
    assert r["hidden_chars"] == 5
    assert r["n_hidden_nodes"] == 1
    assert r["hidden_milli"] == 555


def test_hidden_audit_clean_and_empty():
    from pdf_spark.core.htmlaudit import hidden_audit

    assert hidden_audit(b"<body><p>abc def</p></body>") == {
        "visible_chars": 6,
        "hidden_chars": 0,
        "n_hidden_nodes": 0,
        "hidden_milli": 0,
    }
    assert hidden_audit(b"")["hidden_milli"] == 0
    # negative margins under 3 digits are layout, not cloaking
    r = hidden_audit(b'<body><p style="left:-20px">xy</p></body>')
    assert r["hidden_chars"] == 0 and r["visible_chars"] == 2


def test_soft_redirects_channels_and_decoys():
    from pdf_spark.core.htmlaudit import soft_redirects

    m = soft_redirects(
        b'<html><meta http-equiv="Refresh" '
        b'content="5;url=https://CDN.Example.com/x"></html>'
    )
    assert m["has_meta_refresh"] == 1 and m["refresh_delay"] == 5
    assert m["refresh_target_host"] == "cdn.example.com"
    assert m["is_doorway"] == 0  # delayed refresh is not a doorway
    m = soft_redirects(b"<script>location.replace('/x')</script>")
    assert m["has_js_redirect"] == 1 and m["is_doorway"] == 1
    # decoys: refresh text in body, commented-out JS, script-in-rawtext
    m = soft_redirects(
        b"<html><p>content=0;url=x</p>"
        b"<script><!-- window.location.href='/d'; --></script></html>"
    )
    assert m["has_meta_refresh"] == 0 and m["has_js_redirect"] == 0
    m = soft_redirects(b'<meta http-equiv="refresh" content="0">')
    assert m["refresh_delay"] == 0 and m["is_doorway"] == 1


def test_charset_detect_bom_precedence():
    from pdf_spark.core.htmlaudit import charset_detect

    m = charset_detect(b'\xef\xbb\xbf<meta charset="shift_jis">x')
    assert m["bom"] == "utf-8" and m["declared"] == "shift_jis"
    assert m["resolved"] == "utf-8" and m["mismatch"] == 1
    # UTF-16 BOMs: a byte prescan cannot see NUL-interleaved <meta>
    m = charset_detect(
        b"\xff\xfe" + '<meta charset="utf-8">ok'.encode("utf-16-le")
    )
    assert m["bom"] == "utf-16le" and m["declared"] is None
    assert m["resolved"] == "utf-16le"
    m = charset_detect(b"\xfe\xff" + "hi".encode("utf-16-be"))
    assert m["bom"] == "utf-16be" and m["resolved"] == "utf-16be"


def test_charset_detect_declaration_channels():
    from pdf_spark.core.htmlaudit import charset_detect

    # http-equiv content-type channel
    m = charset_detect(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=Windows-1251">\xe9'
    )
    assert m["declared"] == "windows-1251" == m["resolved"]
    assert m["mismatch"] == 0
    # XML declaration; latin-1 family maps to windows-1252 (spec alias,
    # not a mismatch)
    m = charset_detect(
        b'<?xml version="1.0" encoding="ISO-8859-1"?><p>caf\xe9</p>'
    )
    assert m["declared"] == "iso-8859-1"
    assert m["resolved"] == "windows-1252" and m["mismatch"] == 0
    # declaration outside the 1024-byte prescan window is invisible
    m = charset_detect(b"<p>" + b"x" * 1100 + b'</p><meta charset="koi8-r">')
    assert m["declared"] is None and m["resolved"] == "utf-8"


def test_charset_detect_heuristic_and_mislabel():
    from pdf_spark.core.htmlaudit import charset_detect

    m = charset_detect(b"<p>plain ascii</p>")
    assert m["declared"] is None and m["utf8_valid"] == 1
    assert m["resolved"] == "utf-8" and m["mismatch"] == 0
    m = charset_detect(b"<p>caf\xa9</p>")
    assert m["utf8_valid"] == 0 and m["resolved"] == "windows-1252"
    # mislabeled: declared utf-8 but payload is not valid UTF-8
    m = charset_detect(b'<meta charset="utf-8"><p>caf\xe9</p>')
    assert m["declared"] == "utf-8" and m["utf8_valid"] == 0
    assert m["mismatch"] == 1


def test_hreflang_audit_channels_and_decoy():
    from pdf_spark.core.htmlaudit import hreflang_audit

    m = hreflang_audit(
        b'<html lang="EN"><head>'
        b'<link rel="alternate" hreflang="en" href="/en/1">'
        b'<link rel="Alternate" hreflang="fr" href="/fr/1">'
        b'<link rel="alternate" hreflang="x-default" href="/1">'
        b"</head></html>"
    )
    assert m["page_lang"] == "en" and m["n_alternates"] == 3
    assert m["n_langs"] == 2 and m["has_xdefault"] == 1
    assert m["is_multilingual"] == 1
    # rawtext decoy never counts; rel!=alternate never counts
    m = hreflang_audit(
        b"<html><script>var s='<link rel=\"alternate\" "
        b"hreflang=\"zz\">';</script>"
        b'<link rel="stylesheet" hreflang="xx" href="/x.css">'
        b'<link rel="alternate" hreflang="es" href="/es"></html>'
    )
    assert m["n_alternates"] == 1 and m["n_langs"] == 1
    assert m["is_multilingual"] == 0 and m["page_lang"] is None


def test_spa_shell_detection():
    from pdf_spark.core.htmlaudit import spa_shell_audit

    shell = (
        b'<html><body><div id="root"></div><script>'
        + b"window.x=1;" * 40
        + b"</script><noscript>Enable JS</noscript></body></html>"
    )
    m = spa_shell_audit(shell)
    assert m["is_spa_shell"] == 1 and m["has_empty_root"] == 1
    assert m["has_noscript"] == 1 and m["text_chars"] == 0
    assert m["script_permille"] == 1000
    # noscript banner text must NOT count as page text
    assert m["n_scripts"] == 1


def test_spa_ssr_and_static_not_flagged():
    from pdf_spark.core.htmlaudit import spa_shell_audit

    ssr = (
        b'<html><body><div id="root"><p>Real server rendered body'
        b"</p></div><script>a=1</script></body></html>"
    )
    m = spa_shell_audit(ssr)
    assert m["is_spa_shell"] == 0 and m["has_empty_root"] == 0
    assert m["text_chars"] > 0
    m = spa_shell_audit(b"<html><body><p>just text</p></body></html>")
    assert m["n_scripts"] == 0 and m["script_permille"] == 0


def test_spa_nested_spinner_still_empty():
    from pdf_spark.core.htmlaudit import spa_shell_audit

    # an empty spinner div inside the app container is still "empty":
    # no TEXT was rendered server-side
    m = spa_shell_audit(
        b'<div id="app"><div class="spinner"></div></div>'
        b"<script>boot()</script>"
    )
    assert m["has_empty_root"] == 1 and m["is_spa_shell"] == 1


def test_data_uri_inventory_rfc2397_sizes():
    import base64

    from pdf_spark.core.htmlaudit import data_uri_inventory

    blob = base64.b64encode(b"\x89PNG" + b"\x00" * 29).decode()  # 33 bytes
    page = (
        f'<img src="data:image/png;base64,{blob}">'
        f'<a href="data:text/plain,hello">t</a>'
    ).encode()
    m = data_uri_inventory(page)
    assert m["n_uris"] == 2 and m["n_base64"] == 1 and m["n_images"] == 1
    assert m["max_decoded"] == 33  # arithmetic, not decoded
    assert m["total_decoded_bytes"] == 38


def test_data_uri_decoys_never_count():
    from pdf_spark.core.htmlaudit import data_uri_inventory

    m = data_uri_inventory(
        b"<script>var s='data:image/gif;base64,R0lGOD';</script>"
        b"<p>data:image/jpeg;base64,decoy in body text</p>"
    )
    assert m["n_uris"] == 0


def test_srcset_election_and_decoys():
    from pdf_spark.core.htmlaudit import srcset_audit

    m = srcset_audit(
        b'<img src="a.jpg" srcset="a-320.jpg 320w, a-640.jpg 640w">'
        b'<img src="b.jpg" srcset="b.jpg 1x, b2.jpg 2x">'
        b'<img src="c.jpg">'
        b"<script>var i='<img srcset=\"fake 999w\">';</script>"
    )
    assert m["n_images"] == 3 and m["n_with_srcset"] == 2
    assert m["n_candidates"] == 4 and m["max_width"] == 640
    assert m["n_density_only"] == 1 and m["n_best_is_srcset"] == 2
    assert srcset_audit(b"<p>none</p>")["n_images"] == 0


def test_third_party_audit_hosts_and_decoys():
    from pdf_spark.core.htmlaudit import third_party_audit

    page = (
        b'<script src="https://cdn.tracker.com/t.js"></script>'
        b'<script src="/local.js"></script>'
        b'<img src="//img.other.net/x.png">'
        b'<link rel="stylesheet" href="https://ex.com/style.css">'
        b'<iframe src="https://ads.net/frame"></iframe>'
        b"<script>var s='<img src=\"https://fake.com/x\">';</script>"
    )
    m = third_party_audit(page, "https://ex.com/page")
    assert m["n_resources"] == 5 and m["n_third_party"] == 3
    assert m["n_hosts"] == 3 and m["n_iframes"] == 1
    assert m["third_party_permille"] == 600
    # data: URIs and relative urls are first-party; non-stylesheet
    # links don't count
    m = third_party_audit(
        b'<img src="data:image/png;base64,xx">'
        b'<link rel="preload" href="https://x.net/f.woff2">',
        "https://ex.com/",
    )
    assert m["n_resources"] == 1 and m["n_third_party"] == 0


def test_lang_conflict_channels():
    from pdf_spark.core.htmlaudit import lang_conflict_audit

    m = lang_conflict_audit(
        b'<html lang="en"><p>the cat and the dog in the house</p></html>',
        "Content-Language: en-US",
    )
    assert m["n_declared"] == 3 and m["conflict"] == 0
    assert m["lang_header"] == "en-us"  # primary subtag comparison
    # mistagged: lang=en but French stopwords dominate
    m = lang_conflict_audit(
        b'<html lang="EN"><p>le chat est dans la maison avec le chien</p>'
        b"</html>"
    )
    assert m["lang_text"] == "fr" and m["conflict"] == 1
    m = lang_conflict_audit(b"<p>123 456</p>")
    assert m["n_declared"] == 0 and m["conflict"] == 0


def test_paywall_audit_channels():
    from pdf_spark.core.htmlaudit import paywall_audit

    m = paywall_audit(
        b'<script type="application/ld+json">'
        b'{"isAccessibleForFree": false}</script>'
        b'<div class="paywall-x">Subscribe</div>'
    )
    assert m["is_paywalled"] == 1 and m["has_access_flag"] == 1
    # explicit free flag wins over absent class
    m = paywall_audit(
        b'<script type="application/ld+json">'
        b'{"isAccessibleForFree":"True"}</script>'
    )
    assert m["is_paywalled"] == 0
    # plain-script decoy: no ld+json type, no flag; tri-state unknown
    m = paywall_audit(
        b"<script>var x='\"isAccessibleForFree\": false';</script><p>f</p>"
    )
    assert m["has_access_flag"] == 0 and m["is_paywalled"] is None
    # class-only channel
    assert paywall_audit(b'<div class="regwall">x</div>')["is_paywalled"] == 1


# --- raw-text decoys, across every tag scanner -------------------------------

_RAW_TAGS = ("script", "style", "template", "textarea", "noscript", "xmp")

# (module, function, fragment that the function counts when it is real
# markup); no fragment holds a raw-text close tag, so each stays whole
# inside the element under test
_DECOY_SCANNERS = [
    ("htmltext", "extract_main_text", "<h1>Decoy heading words</h1>"),
    ("htmltext", "extract_markdown", "<h1>Decoy heading words</h1>"),
    ("htmltext", "extract_links", '<a href="/decoy">d</a>'),
    ("htmltext", "extract_links_with_text", '<a href="/decoy">d</a>'),
    ("htmltext", "extract_tables", "<table><tr><td>decoy</td></tr></table>"),
    ("htmltext", "extract_html_meta", '<meta name="description" content="decoy">'),
    ("htmltext", "extract_jsonld", '<script type="application/ld+json">{"d":1}'),
    ("htmltext", "extract_link_relations", '<link rel="canonical" href="/decoy">'),
    ("htmltext", "extract_headings", "<h2>Decoy</h2>"),
    ("htmltext", "extract_image_alts", '<img src="/decoy.png" alt="d">'),
    ("htmlaudit", "ai_optout", '<meta name="robots" content="noai">'),
    ("htmlaudit", "hidden_audit", '<div style="display:none">cloaked words</div>'),
    ("htmlaudit", "soft_redirects", '<meta http-equiv="refresh" content="0">'),
    ("htmlaudit", "hreflang_audit", '<link rel="alternate" hreflang="zz" href="/zz">'),
    ("htmlaudit", "spa_shell_audit", '<div id="root"></div>'),
    ("htmlaudit", "data_uri_inventory", '<img src="data:image/gif;base64,R0lGOD">'),
    ("htmlaudit", "srcset_audit", '<img src="a.png" srcset="b.png 999w">'),
    ("htmlaudit", "pubdate_election", '<time datetime="2021-05-06">'),
    ("htmlaudit", "third_party_audit", '<img src="https://cdn.tracker.com/p.png">'),
]


@pytest.mark.parametrize("raw", _RAW_TAGS)
@pytest.mark.parametrize(
    "module,fn,frag", _DECOY_SCANNERS, ids=[s[1] for s in _DECOY_SCANNERS]
)
def test_rawtext_decoy_never_counts(module, fn, frag, raw):
    import importlib

    f = getattr(importlib.import_module(f"pdf_spark.core.{module}"), fn)

    def page(x: str) -> bytes:
        return _page("<p>Plain visible paragraph text, long enough to keep.</p>" + x)

    filler = "x" * len(frag)  # same body length: spa_shell_audit counts it
    blank = f(page(f"<{raw}>{filler}</{raw}>"))
    assert f(page(frag)) != blank  # the fragment counts as real markup
    assert f(page(f"<{raw}>{frag}</{raw}>")) == blank


def test_self_closing_script_split():
    """Pins today's split: the block segmenter and hidden_audit treat
    ``<script/>`` as void, the other scanners skip a raw body that, with
    no close tag, runs to EOF."""
    from pdf_spark.core.htmlaudit import hidden_audit, spa_shell_audit
    from pdf_spark.core.htmltext import extract_image_alts, extract_links

    tail = '<a href="/after">after link</a><img src="/i.png"><p>Tail text here.</p>'
    page = _page("<p>Intro paragraph.</p><script/>" + tail)
    assert "Tail text here." in extract_main_text(page)
    assert hidden_audit(page)["visible_chars"] == len(
        "Introparagraph." "afterlink" "Tailtexthere."
    )
    assert extract_links(page) == []
    assert extract_image_alts(page) == []
    spa = spa_shell_audit(page)
    assert spa["n_scripts"] == 1
    assert spa["script_bytes"] == len(tail + "</body></html>")
