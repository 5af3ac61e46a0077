"""Seeded, cached inputs for the extraction benchmark.

Every workload is a pure function of ``(workload, seed, n_files)``: the
payload texts are seeded draws from ``sf0.01_texts.txt`` (the ``text``
column of the sf0.01 ``documents.parquet``, all 500 rows in ``doc_id``
order), the documents come from the ``pdf_spark.gen`` writers. The program under test only ever sees the input
parquet files (``url``, ``html``, ``lang``); the ground truth lives in a
separate ``expected.parquet`` that only the benchmark reads.

Inputs are written as ``n_files`` parquet files (several per core) so that
no single straggler split sets a pass's wall, and cached under
``perfbench/.work/inputs/`` keyed by workload, seed, file count, document
count, the generator's ``N_VARIANTS`` and ``GEN_VERSION`` below.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_spark.gen import corpus
from pdf_spark.gen.pdfgen import (
    F_HELV,
    FONT_SIZE,
    LEFT_X,
    LINE_HEIGHT,
    N_BAD_VARIANTS,
    N_VARIANTS,
    TOP_Y,
    PdfBuilder,
    esc,
    generate_doc,
    wrap_lines,
)

# bump when the generation below changes shape, so stale caches are ignored
GEN_VERSION = 2

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "sf0.01_texts.txt")) as _fh:
    SF_TEXTS = _fh.read().splitlines()
# the generator reads its reference fixtures from here; nothing exists
# there, so fixture rows are generated and no file outside the checkout is read
NO_FIXTURES = os.path.join(HERE, "no-fixtures")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "extract": extract_docs_text passes; "resume": run_extraction
    docs: int  # documents in the input
    serial_docs: int  # documents the serial baseline replays (whole variant cycles)


# why each workload exists is recorded in BENCHMARK.json and README.md
WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_mix", "extract", 6000, 1300),
        Workload("long_pdf", "extract", 48, 16),
        Workload("html_only", "extract", 12000, 1400),
        Workload("job_resume", "resume", 24000, 1300),
    )
}

LONG_PDF_PAGES = 100
LONG_PDF_PAGE_CHARS = 600  # a page joins sf0.01 texts until it holds this many
HTML_VARIANTS = tuple(
    v for v in range(N_VARIANTS) if generate_doc("probe", v)[2].startswith("html_")
)
# error code of each corrupt generator variant, from the generator itself
BAD_CODES = tuple(generate_doc("probe", N_VARIANTS + k)[3] for k in range(N_BAD_VARIANTS))


def seeded_texts(rng: random.Random, n: int) -> list[str]:
    """n texts drawn with replacement from the sf0.01 sample."""
    return [rng.choice(SF_TEXTS) for _ in range(n)]


def page_text(rng: random.Random) -> str:
    """sf0.01 texts joined until the page holds LONG_PDF_PAGE_CHARS."""
    parts: list[str] = []
    while sum(map(len, parts)) < LONG_PDF_PAGE_CHARS:
        parts.append(rng.choice(SF_TEXTS))
    return " ".join(parts)


def expected_error(i: int) -> str:
    """The error code ``corpus.make_row`` row i must produce ('' if good)."""
    if i % corpus.BAD_CADENCE == 13 and i % corpus.FIXTURE_CADENCE != 7:
        return BAD_CODES[(i // corpus.BAD_CADENCE) % N_BAD_VARIANTS]
    return ""


def _crawl_rows(rng: random.Random, n: int) -> list[dict]:
    """crawl_mix rows via ``rows_for_texts``, fixture rows generated."""
    saved = corpus._FIXDIR
    corpus._FIXDIR = NO_FIXTURES
    try:
        rows = corpus.rows_for_texts(seeded_texts(rng, n), 0)
    finally:
        corpus._FIXDIR = saved
    for i, r in enumerate(rows):
        r["error"] = expected_error(i)
    return rows


def _page_content(lines: list[str], tj_arrays: bool) -> bytes:
    """One page of text: Td/Tj lines, or TJ arrays with a kern mid-line."""
    ops = [b"BT", b"/F1 %d Tf" % FONT_SIZE]
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 %d %d Tm" % (LEFT_X, y))
        if tj_arrays and len(line) > 1:
            mid = len(line) // 2
            ops.append(b"[(" + esc(line[:mid]) + b") -120 (" + esc(line[mid:]) + b")] TJ")
        else:
            ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def long_pdf_doc(page_texts: list[str]) -> tuple[bytes, str]:
    """A Flate PDF with one page per text and a single shared font; the
    expected text is every page's lines joined by newlines."""
    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    font = b.add(F_HELV)
    kids = []
    expected: list[str] = []
    for p, text in enumerate(page_texts):
        lines = wrap_lines(text)
        expected.extend(lines)
        cont = b.stream(_page_content(lines, tj_arrays=p % 2 == 1), filters="FlateDecode")
        kids.append(
            b.add(
                b"<</Type/Page/Parent %d 0 R/MediaBox[0 0 612 792]"
                b"/Resources<</Font<</F1 %d 0 R>>>>/Contents %d 0 R>>" % (pages, font, cont)
            )
        )
    b.set(cat, b"<</Type/Catalog/Pages %d 0 R>>" % pages)
    b.set(
        pages,
        b"<</Type/Pages/Kids[" + b" ".join(b"%d 0 R" % k for k in kids)
        + b"]/Count %d>>" % len(kids),
    )
    return b.build(cat), "\n".join(expected)


def _long_rows(rng: random.Random, n: int) -> list[dict]:
    rows = []
    for i in range(n):
        pdf, text = long_pdf_doc([page_text(rng) for _ in range(LONG_PDF_PAGES)])
        rows.append(dict(url=f"https://example.org/long/doc-{i:06d}.pdf", html=pdf, text=text, error=""))
    return rows


def _html_rows(rng: random.Random, n: int) -> list[dict]:
    rows = []
    for i, text in enumerate(seeded_texts(rng, n)):
        page, expected, _, _ = generate_doc(text, HTML_VARIANTS[i % len(HTML_VARIANTS)])
        rows.append(dict(url=f"https://example.org/html/{i:012d}.html", html=page, text=expected, error=""))
    return rows


def cache_key(w: Workload, seed: int, n_files: int) -> str:
    return f"{w.name}-s{seed}-n{w.docs}-f{n_files}-v{N_VARIANTS}-g{GEN_VERSION}"


@dataclass
class Inputs:
    files: list[str]  # input parquet files, in document order
    urls: list[str]
    payloads: list[bytes]
    texts: list  # expected text per doc (None for corrupt docs)
    errors: list[str]  # expected error_code per doc ('' for good docs)
    meta: dict


def load_or_build(w: Workload, seed: int, n_files: int, cache_root: str) -> Inputs:
    """The workload's inputs for ``seed``, generated once and cached."""
    d = os.path.join(cache_root, cache_key(w, seed, n_files))
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        rng = random.Random(f"{w.name}:{seed}")
        meta = {"workload": w.name, "seed": seed, "n_variants": N_VARIANTS}
        if w.name == "long_pdf":
            rows = _long_rows(rng, w.docs)
        elif w.name == "html_only":
            rows = _html_rows(rng, w.docs)
        else:
            rows = _crawl_rows(rng, w.docs)
            meta["fixture_rows"] = "generated"
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        per = -(-len(rows) // n_files)
        for f in range(n_files):
            chunk = rows[f * per:(f + 1) * per]
            pq.write_table(
                pa.table({
                    "url": pa.array([r["url"] for r in chunk], pa.string()),
                    "html": pa.array([r["html"] for r in chunk], pa.binary()),
                    "lang": pa.array([corpus.LANGS[i % len(corpus.LANGS)] for i in range(len(chunk))], pa.string()),
                }),
                os.path.join(tmp, f"part-{f:04d}.parquet"),
            )
        pq.write_table(
            pa.table({
                "url": pa.array([r["url"] for r in rows], pa.string()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "error": pa.array([r["error"] for r in rows], pa.string()),
            }),
            os.path.join(tmp, "expected.parquet"),
        )
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")
    )
    pages = pq.read_table(files, columns=["url", "html"])
    exp = pq.read_table(os.path.join(d, "expected.parquet"))
    with open(os.path.join(d, "meta.json")) as fh:
        meta = json.load(fh)
    meta["cache_dir"] = os.path.relpath(d, os.path.dirname(cache_root))
    return Inputs(
        files=files,
        urls=pages.column("url").to_pylist(),
        payloads=pages.column("html").to_pylist(),
        texts=exp.column("text").to_pylist(),
        errors=exp.column("error").to_pylist(),
        meta=meta,
    )
