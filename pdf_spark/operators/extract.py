"""The mapInArrow extraction stage (SURVEY.md §2.5, §3 EP1).

Two shapes, both batched Arrow UDFs with zero per-row Python at the Spark
level (``input_hint`` mandate):

- ``extract_docs_text(df)`` — the FUSED fast path: one row in -> one row
  out ``(url, text, status, error_code, n_pages, n_spans)``. The span sort
  and line assembly happen *inside* the UDF (per document, embarrassingly
  parallel) so the whole extraction is a single narrow map stage — **no
  shuffle at all** between scan and sink. This is the 100 TB path: wall
  time scales with bytes scanned / cores, and there is no wide dependency
  to skew.

- ``extract_spans(df)`` — the span-table path: one row in -> N span rows
  out (flatMap shape). Feeds layout-aware downstream queries and the
  Spark-side assembly in ``operators.assemble`` (which demonstrates the
  declarative sort semantics and must agree byte-for-byte with the fused
  path — tested).

Per-batch guards (SURVEY.md §7.3 "skew + memory"): the Arrow batch row cap
is configured at session level; each document is additionally size-capped
(``DOC_TOO_LARGE``) and any parse failure becomes an error row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.core.extract import (
    DEFAULT_MAX_BYTES,
    assemble_markdown,
    assemble_text,
    extract_document,
)
from pdf_spark.operators.lineage import batch_tally
from pdf_spark.session import task_prologue

DOCS_TEXT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
        StructField("error_code", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_spans", IntegerType()),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("col", IntegerType()),
        StructField("y", DoubleType()),
        StructField("x", DoubleType()),
        StructField("glyph_order", LongType()),
        StructField("text", StringType()),
        StructField("font", StringType()),
        StructField("size", DoubleType()),
        StructField("status", StringType()),
        StructField("error_code", StringType()),
    ]
)


def extract_docs_text(
    pages: DataFrame,
    max_bytes: int = DEFAULT_MAX_BYTES,
    passthrough: tuple[str, ...] = (),
    markdown: bool = False,
    *,
    tally=None,
) -> DataFrame:
    """pages(url, html, ...) -> docs_text — fused, shuffle-free.

    ``passthrough`` names string columns copied verbatim from input to
    output (e.g. ``input_file`` for lineage) without a post-UDF join.

    ``tally`` is ``run_extraction``'s internal lineage accumulator (a
    ``lineage.Tally``); ``passthrough`` must then carry
    ``partition_id`` and ``input_file``. Each batch adds its
    ``lineage.batch_tally``.

    ``markdown=True`` adds an ``md`` column (``assemble_markdown`` over
    the same spans — assembly-only cost, the parse is not repeated):
    PDF headings surface as ``## `` via the font-size rule; HTML spans
    (uniform size) degrade to plain paragraphs here — the
    structure-preserving HTML serializer stays ``extract_markdown``
    (qx24's path), which needs block kinds the span schema drops.

    Implemented over ``mapInArrow`` rather than ``mapInPandas``: the UDF
    consumes the html bytes row-at-a-time anyway, so the pandas block
    manager on both sides of the Arrow boundary was pure overhead —
    RecordBatch in, RecordBatch out measured ~1.1x faster end-to-end on
    the 200k-doc corpus, and the url/passthrough columns are forwarded as
    Arrow arrays with zero copies.
    """
    schema = StructType(
        DOCS_TEXT_SCHEMA.fields
        + ([StructField("md", StringType())] if markdown else [])
        + [StructField(c, StringType()) for c in passthrough]
    )

    def run(batches):
        task_prologue()
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            urls = batch.column(names.index("url"))
            # url/passthrough keep their incoming Arrow types (string vs
            # large_string depends on the upstream source)
            out_fields = pa.schema(
                [
                    pa.field("url", urls.type),
                    pa.field("text", pa.string()),
                    pa.field("status", pa.string()),
                    pa.field("error_code", pa.string()),
                    pa.field("n_pages", pa.int32()),
                    pa.field("n_spans", pa.int32()),
                ]
                + ([pa.field("md", pa.string())] if markdown else [])
                + [
                    pa.field(c, batch.column(names.index(c)).type)
                    for c in passthrough
                ]
            )
            texts: list = []
            stats: list = []
            codes: list = []
            npg: list = []
            nsp: list = []
            mds: list = []
            for data in batch.column(names.index("html")).to_pylist():
                r = extract_document(data, max_bytes)
                texts.append(assemble_text(r.spans) if r.ok else None)
                stats.append(r.status)
                codes.append(r.error_code)
                npg.append(r.n_pages)
                nsp.append(len(r.spans))
                if markdown:
                    mds.append(assemble_markdown(r.spans) if r.ok else None)
            if tally is not None:
                tally.add(batch_tally(
                    batch.column(names.index("partition_id")).to_pylist(),
                    batch.column(names.index("input_file")).to_pylist(),
                    urls.to_pylist(), stats, codes,
                ))
            arrays = [
                urls,
                pa.array(texts, pa.string()),
                pa.array(stats, pa.string()),
                pa.array(codes, pa.string()),
                pa.array(npg, pa.int32()),
                pa.array(nsp, pa.int32()),
            ] + (
                [pa.array(mds, pa.string())] if markdown else []
            ) + [batch.column(names.index(c)) for c in passthrough]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_fields)

    cols = ["url", "html", *passthrough]
    return pages.select(*cols).mapInArrow(run, schema)


def extract_spans(pages: DataFrame, max_bytes: int = DEFAULT_MAX_BYTES) -> DataFrame:
    """pages(url, html, ...) -> spans (one row per text-show element).

    Error documents emit a single marker row with ``page = -1`` so lineage
    counts reconcile (FIXTURES.md §7: docs_text.status derives from it).
    """

    def run(batches):
        task_prologue()
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(SPANS_SCHEMA)
        for batch in batches:
            names = batch.schema.names
            rows: list[tuple] = []
            for url, data in zip(
                batch.column(names.index("url")).to_pylist(),
                batch.column(names.index("html")).to_pylist(),
            ):
                r = extract_document(data, max_bytes)
                spans = r.spans if r.ok else []
                rows.extend(
                    (url, s.page, s.col, s.y, s.x, s.glyph_order, s.text,
                     s.font, s.size, "ok", "")
                    for s in spans
                )
                if not spans:  # the page -1 marker: error or span-less doc
                    rows.append(
                        (url, -1, 0, 0.0, 0.0, 0, "" if r.ok else None, None,
                         0.0, r.status, r.error_code)
                    )
            columns = list(zip(*rows)) or [()] * len(out_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, out_schema)],
                schema=out_schema,
            )

    return pages.select("url", "html").mapInArrow(run, SPANS_SCHEMA)
