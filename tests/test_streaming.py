"""Structured Streaming extraction: availableNow drain over a pages
directory must produce exactly the batch pipeline's output."""

import os

import pandas as pd
from pyspark.sql import functions as F

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.streaming.extract_stream import stream_extract


def test_stream_matches_batch(spark, tmp_out):
    texts = [f"streaming doc {i} with some words to extract" for i in range(40)]
    pages_dir = os.path.join(tmp_out, "pages")
    pdf = pd.DataFrame(rows_for_texts(texts))
    spark.createDataFrame(pdf).repartition(4).write.parquet(pages_dir)

    out_dir = os.path.join(tmp_out, "stream_out")
    ckpt = os.path.join(tmp_out, "ckpt")
    q = stream_extract(spark, pages_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir).select("url", "text", "status")
    batch = extract_docs_text(spark.read.parquet(pages_dir)).select(
        "url", "text", "status"
    )
    diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    assert diff == 0
    assert streamed.count() == len(texts)

    # restart with same checkpoint: no duplicates (exactly-once sink)
    q2 = stream_extract(spark, pages_dir, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(texts)


def test_observed_metrics_match_batch_counts(spark, tmp_out):
    """observe() metrics (n_docs/n_ok/n_err per micro-batch) must sum to
    the batch pipeline's counts — the zero-extra-pass monitoring surface:
    the accumulators ride the extraction pass that already runs, no
    second count() job over the Arrow UDF."""
    texts = [f"observed doc {i} body text" for i in range(30)]
    pages_dir = os.path.join(tmp_out, "pages_obs")
    pdf = pd.DataFrame(rows_for_texts(texts))
    spark.createDataFrame(pdf).repartition(3).write.parquet(pages_dir)

    out_dir = os.path.join(tmp_out, "stream_obs_out")
    ckpt = os.path.join(tmp_out, "ckpt_obs")
    q = stream_extract(
        spark, pages_dir, out_dir, ckpt, available_now=True, observe=True
    )
    q.awaitTermination(120)

    totals = {"n_docs": 0, "n_ok": 0, "n_err": 0}
    for prog in q.recentProgress:
        m = prog["observedMetrics"].get("extract_metrics")
        if m:
            for k in totals:
                totals[k] += m[k]
    batch = extract_docs_text(spark.read.parquet(pages_dir))
    n_ok = batch.filter(F.col("status") == "ok").count()
    assert totals == {
        "n_docs": len(texts),
        "n_ok": n_ok,
        "n_err": len(texts) - n_ok,
    }


def test_foreachbatch_upsert_exactly_once(spark, tmp_path, monkeypatch):
    """foreachBatch upsert sink: replayed batches are no-ops, restart
    from checkpoint adds nothing, totals match the batch pipeline."""
    import glob

    from pdf_spark.streaming.extract_stream import (
        stream_extract_upsert,
        upsert_batch,
    )

    texts = [f"upsert doc {i} body words" for i in range(30)]
    pages_dir = str(tmp_path / "pages")
    pdf = pd.DataFrame(rows_for_texts(texts))
    spark.createDataFrame(pdf).repartition(4).write.parquet(pages_dir)

    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract_upsert(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)

    data_glob = os.path.join(out_dir, "batch_id=*")
    total = spark.read.parquet(*glob.glob(data_glob))
    assert total.count() == len(texts)
    assert total.select("url").distinct().count() == len(texts)

    # manual replay of an already-committed batch id: skipped, no growth
    some = spark.read.parquet(pages_dir).limit(5)
    from pdf_spark.operators.extract import extract_docs_text as _edt

    assert upsert_batch(_edt(some), 0, out_dir) is False
    assert spark.read.parquet(*glob.glob(data_glob)).count() == len(texts)

    # restart from the same checkpoint: availableNow re-run adds nothing
    q2 = stream_extract_upsert(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(*glob.glob(data_glob)).count() == len(texts)

    # a file:// URI out_dir: the markers sit beside the data, not under a
    # cwd-relative ./file: directory
    monkeypatch.chdir(tmp_path)
    uri_dir = (tmp_path / "sink_uri").as_uri()
    assert upsert_batch(_edt(some), 0, uri_dir) is True
    assert upsert_batch(_edt(some), 0, uri_dir) is False
    assert (tmp_path / "sink_uri" / "_committed" / "0").is_file()
    assert not (tmp_path / "file:").exists()
    assert spark.read.parquet(f"{uri_dir}/batch_id=0").count() == 5
