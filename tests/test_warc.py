"""WARC source connector: parser, HTTP decode layers, Spark reader."""

import gzip

import pytest

from pdf_spark.sources.warc import (
    build_response_record,
    http_payload,
    iter_warc_records,
    read_warc,
    records_to_rows,
    write_warc,
)


def _recs():
    return [
        build_response_record(
            "https://a.example/1", "2024-01-01T00:00:00Z",
            b"<html><body>one</body></html>"),
        build_response_record(
            "https://a.example/2", "2024-01-02T00:00:00Z",
            b"<html>two</html>", chunked=True),
        build_response_record(
            "https://a.example/3", "2024-01-03T00:00:00Z",
            b"<html>three</html>", content_gzip=True),
        build_response_record(
            "https://a.example/4", "2024-01-04T00:00:00Z",
            b"<html>four</html>", chunked=True, content_gzip=True),
    ]


@pytest.mark.parametrize("gzip_per_record", [True, False])
def test_roundtrip_layouts(gzip_per_record):
    arc = write_warc(_recs(), gzip_per_record=gzip_per_record)
    rows = list(records_to_rows(arc))
    assert [r[0] for r in rows] == [f"https://a.example/{i}" for i in (1, 2, 3, 4)]
    assert rows[0][2] == b"<html><body>one</body></html>"
    assert rows[1][2] == b"<html>two</html>"  # chunked
    assert rows[2][2] == b"<html>three</html>"  # content-encoding gzip
    assert rows[3][2] == b"<html>four</html>"  # both layers
    assert all(r[3] == 200 and r[4] == "text/html" for r in rows)


def test_whole_file_gzip():
    arc = gzip.compress(b"".join(_recs()), mtime=0)
    assert len(list(records_to_rows(arc))) == 4


def test_non_response_records_skipped():
    req = _recs()[0].replace(b"WARC-Type: response", b"WARC-Type: request")
    info = _recs()[0].replace(b"WARC-Type: response", b"WARC-Type: warcinfo")
    arc = write_warc([req, info, _recs()[1]])
    rows = list(records_to_rows(arc))
    assert len(rows) == 1 and rows[0][0].endswith("/2")


def test_truncated_tail_tolerated():
    arc = write_warc(_recs()[:2]) + b"\x1f\x8b\x08\x00trunc"
    assert len(list(records_to_rows(arc))) == 2
    # truncation INSIDE an uncompressed record: earlier records survive
    plain = b"".join(_recs()[:2])
    assert len(list(records_to_rows(plain[: len(plain) - 40]))) >= 1


def test_resync_on_garbage_between_records():
    recs = _recs()
    arc = recs[0] + b"GARBAGE NOT A RECORD\r\n\r\n" + recs[1]
    got = [r.target_uri for r in iter_warc_records(arc)
           if r.rec_type == "response"]
    assert got == ["https://a.example/1", "https://a.example/2"]


def test_record_cap_skips_oversized_member():
    big = build_response_record(
        "https://a.example/big", "2024-01-01T00:00:00Z", b"x" * 100_000)
    arc = write_warc([big, _recs()[0]])
    rows = list(records_to_rows(arc, max_record_bytes=50_000))
    assert [r[0] for r in rows] == ["https://a.example/1"]


def test_http_payload_malformed():
    assert http_payload(b"not http at all")[0] is None
    assert http_payload(b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked"
                        b"\r\n\r\nZZZ\r\n")[0] is None  # bad chunk size
    # bad content-encoding stream -> None (never raises)
    assert http_payload(b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip"
                        b"\r\n\r\nnot-gzip")[0] is None


def test_deflate_content_encoding():
    import zlib

    body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
            + zlib.compress(b"<html>z</html>"))
    assert http_payload(body)[0] == b"<html>z</html>"


def test_read_warc_spark(spark, tmp_path):
    import datetime

    d = tmp_path / "warcs"
    d.mkdir()
    for f in range(3):
        recs = [
            build_response_record(
                f"https://ex.com/{f}/{i}", f"2024-01-0{f + 1}T00:00:00Z",
                f"<html><body>doc {f}-{i}</body></html>".encode(),
                chunked=(i % 2 == 0), content_gzip=(i % 3 == 0))
            for i in range(5)
        ]
        (d / f"part-{f}.warc.gz").write_bytes(write_warc(recs))
    df = read_warc(spark, str(d))
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 15
    r = rows["https://ex.com/1/2"]
    assert bytes(r["html"]) == b"<html><body>doc 1-2</body></html>"
    assert r["http_status"] == 200 and r["mime"] == "text/html"
    assert r["warc_ts"] == datetime.datetime(2024, 1, 2)
    assert dict(df.dtypes)["warc_ts"] == "timestamp"


def test_read_warc_yields_bounded_frames():
    """One archive's records leave the flattening UDF in frames of at
    most BATCH_ROWS rows, in archive order, never as one frame."""
    import pandas as pd

    from pdf_spark.session import BATCH_ROWS
    from pdf_spark.sources.warc import DEFAULT_MAX_RECORD, _raw_schema, _record_frames

    recs = [
        build_response_record(
            f"https://b.example/{i}", "2024-03-01T00:00:00Z",
            f"<html><body>record {i}</body></html>".encode(), chunked=(i % 3 == 0))
        for i in range(200)
    ]
    archives = [write_warc(recs), write_warc(recs[:5])]
    names = ["file:///w/big.warc.gz", "file:///w/small.warc.gz"]
    batch = pd.DataFrame({"content": archives, "input_file": names})
    frames = list(_record_frames(iter([batch]), DEFAULT_MAX_RECORD))
    assert BATCH_ROWS == 64
    assert [len(f) for f in frames] == [64, 64, 64, 13]
    want = pd.DataFrame(
        [(*row, name) for arc, name in zip(archives, names) for row in records_to_rows(arc)],
        columns=_raw_schema().fieldNames(),
    )
    pd.testing.assert_frame_equal(pd.concat(frames, ignore_index=True), want)


def test_warc_frame_without_input_file_raises(spark, tmp_path):
    """Above read_warc's UDF, input_file_name() names whichever archive
    the task read last: a frame that dropped the source's input_file is
    refused, not tagged with the wrong archives."""
    from pdf_spark.operators.lineage import tag_lineage_cols
    from pdf_spark.operators.pipeline import run_extraction

    d = tmp_path / "archives"
    d.mkdir()
    for f in range(2):
        recs = [
            build_response_record(
                f"https://x.example/{f}/{i}", "2024-02-01T00:00:00Z",
                f"<html><body><p>record {i}</p></body></html>".encode())
            for i in range(3)
        ]
        (d / f"crawl-{f}.warc.gz").write_bytes(write_warc(recs))
    dropped = read_warc(spark, str(d)).select("url", "warc_ts", "html")
    with pytest.raises(ValueError, match="input_file"):
        tag_lineage_cols(dropped)
    with pytest.raises(ValueError, match="input_file"):
        run_extraction(spark, dropped, str(tmp_path / "sink"))
    kept = tag_lineage_cols(read_warc(spark, str(d)).select("url", "html", "input_file"))
    assert {r["input_file"].rsplit("/", 1)[1] for r in kept.collect()} == {
        "crawl-0.warc.gz", "crawl-1.warc.gz"}


def test_fuzz_mutations_never_raise_and_deterministic():
    import random

    rng = random.Random(20260817)
    base = write_warc(_recs())
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            op = rng.random()
            if op < 0.5 and buf:
                buf[rng.randrange(len(buf))] = rng.randrange(256)
            elif op < 0.8 and buf:
                del buf[rng.randrange(len(buf))]
            else:
                buf.insert(rng.randrange(len(buf) + 1), rng.randrange(256))
        data = bytes(buf)
        a = list(records_to_rows(data))  # must never raise
        b = list(records_to_rows(data))
        assert a == b  # and must be deterministic


def test_fuzz_random_junk_never_raises():
    import random

    rng = random.Random(4242)
    for _ in range(200):
        n = rng.randint(0, 2000)
        data = bytes(rng.randrange(256) for _ in range(n))
        list(records_to_rows(data))
        list(records_to_rows(b"WARC/1.0\r\n" + data))
        list(records_to_rows(b"\x1f\x8b" + data))


def test_run_job_over_warc_archives(spark, tmp_path):
    """Deployment path end to end: raw WARC archives -> read_warc ->
    the full salted/resumable extraction pipeline -> docs_text sink."""
    from pdf_spark.operators.pipeline import run_extraction
    from pdf_spark.sources.warc import read_warc

    d = tmp_path / "archives"
    d.mkdir()
    page = (b"<!doctype html><html><body><main><p>"
            b"The actual content paragraph with enough characters to be"
            b" classified as good content by the extractor heuristics."
            b"</p></main></body></html>")
    for f in range(2):
        recs = [
            build_response_record(
                f"https://w.example/{f}/{i}", "2024-02-01T00:00:00Z",
                page, content_gzip=(i % 2 == 0))
            for i in range(4)
        ]
        (d / f"crawl-{f}.warc.gz").write_bytes(write_warc(recs))

    pages = read_warc(spark, str(d)).select("url", "warc_ts", "html", "input_file")
    out = str(tmp_path / "sink")
    summary = run_extraction(spark, pages, out, resume=False)
    assert summary["n_ok"] == 8 and summary["n_err"] == 0
    docs = spark.read.parquet(out + "/docs_text")
    rows = docs.collect()
    assert len(rows) == 8
    assert all("actual content paragraph" in r["text"] for r in rows)


def test_warc_lineage_names_each_records_archive(spark, tmp_path):
    """With fewer tasks than archives, every extracted row's input_file,
    and so every lineage row, names the archive its record came from; a
    resume over the same archives then extracts nothing."""
    from pdf_spark.operators.pipeline import run_extraction

    d = tmp_path / "archives"
    d.mkdir()
    n_files, n_recs = 6, 100
    for f in range(n_files):
        recs = [
            build_response_record(
                f"https://w.example/{f}/{i}", "2024-02-01T00:00:00Z",
                f"<html><body><p>record {i} of archive {f}</p></body></html>".encode())
            for i in range(n_recs)
        ]
        (d / f"crawl-{f}.warc.gz").write_bytes(write_warc(recs))

    out = str(tmp_path / "sink")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        tasks = spark.read.format("binaryFile").load(str(d)).rdd.getNumPartitions()
        assert tasks < n_files
        run_extraction(spark, read_warc(spark, str(d)), out)
        again = run_extraction(spark, read_warc(spark, str(d)), out)
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    rows = spark.read.parquet(out + "/docs_text").select("url", "input_file").collect()
    assert len(rows) == n_files * n_recs
    wrong = [
        r for r in rows
        if not r["input_file"].endswith(f"/crawl-{r['url'].split('/')[3]}.warc.gz")
    ]
    assert wrong == []
    lin = spark.read.parquet(out + "/lineage")
    assert lin.select("input_file").distinct().count() == n_files
    assert again["n_ok"] + again["n_err"] == 0


def test_wet_roundtrip(spark, tmp_path):
    """extract -> write_wet -> re-parse: every ok row's text comes back
    byte-identical as a conversion record; error rows are absent."""
    import glob

    import pandas as pd

    from pdf_spark.gen.corpus import rows_for_texts
    from pdf_spark.operators.extract import extract_docs_text
    from pdf_spark.sources.warc import iter_warc_records, write_wet

    pages = spark.createDataFrame(
        pd.DataFrame(rows_for_texts([f"wet doc {i} body text" for i in range(130)]))
    ).repartition(4)
    docs = extract_docs_text(pages)
    out = str(tmp_path / "wet")
    parts = write_wet(docs, out)
    assert sum(n for _, n in parts) == docs.where("text is not null").count()

    got = {}
    for path in glob.glob(out + "/*.warc.wet.gz"):
        with open(path, "rb") as f:
            for rec in iter_warc_records(f.read()):
                assert rec.rec_type == "conversion"
                got[rec.target_uri] = rec.body.decode("utf-8")
    expected = {
        r["url"]: r["text"]
        for r in docs.where("text is not null").collect()
    }
    assert got == expected
