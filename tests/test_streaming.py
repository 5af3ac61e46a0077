"""Structured Streaming extraction: each micro-batch is a ``run_extraction``
run named ``<queryId>-<batchId>`` into the batch sink layout, committed by
its lineage file. An availableNow drain over a pages directory must
produce exactly the batch pipeline's output."""

import os

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators import pipeline
from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.streaming.extract_stream import stream_extract

TEXTS = [f"streaming doc {i} with some words to extract" for i in range(40)]


def _pages_dir(spark, tmp_path):
    """TEXTS as 8 parquet files: two micro-batches of 4 files each."""
    pages_dir = str(tmp_path / "pages")
    pdf = pd.DataFrame(rows_for_texts(TEXTS))
    spark.createDataFrame(pdf).repartition(8).write.parquet(pages_dir)
    return pages_dir


def _drain(spark, pages_dir, out_dir, ckpt):
    q = stream_extract(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    return q


def _sums(df, *cols):
    return tuple(df.agg(*[F.sum(c) for c in cols]).collect()[0])


def test_stream_matches_batch(spark, tmp_path):
    """Stream output and counts equal the batch pipeline's; a restart from
    the same checkpoint adds nothing; a replay of a committed micro-batch
    is a no-op that returns that batch's counts."""
    pages_dir = _pages_dir(spark, tmp_path)
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = _drain(spark, pages_dir, out_dir, ckpt)

    sink = spark.read.parquet(out_dir + "/docs_text")
    streamed = sink.select("url", "text", "status")
    batch_docs = extract_docs_text(spark.read.parquet(pages_dir))
    batch = batch_docs.select("url", "text", "status")
    diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    assert diff == 0
    assert streamed.count() == len(TEXTS)

    # one committed run per micro-batch; their lineage sums to the batch counts
    lin = spark.read.parquet(out_dir + "/lineage")
    runs = {r["run_id"] for r in lin.select("run_id").distinct().collect()}
    assert runs == {f"{q.id}-0", f"{q.id}-1"}
    n_ok = batch_docs.where(F.col("status") == "ok").count()
    assert _sums(lin, "n_docs", "n_ok", "n_err") == (len(TEXTS), n_ok, len(TEXTS) - n_ok)

    # restart with the same checkpoint: no duplicates, no new run
    _drain(spark, pages_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir + "/docs_text").count() == len(TEXTS)
    assert sorted(os.listdir(out_dir + "/lineage")) == sorted(
        name for r in runs for name in (f"{r}.parquet", f".{r}.parquet.crc")
    )

    # manual replay of an already-committed micro-batch: no job, no growth
    some = spark.read.parquet(pages_dir).limit(5)
    sc = spark.sparkContext
    sc.setJobGroup("replay-committed", "replay-committed")
    try:
        m = pipeline.run_extraction(spark, some, out_dir, run_id=f"{q.id}-0", resume=False)
        assert sc.statusTracker().getJobIdsForGroup("replay-committed") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (m["n_ok"], m["n_err"]) == _sums(
        lin.where(F.col("run_id") == f"{q.id}-0"), "n_ok", "n_err"
    )
    assert spark.read.parquet(out_dir + "/docs_text").count() == len(TEXTS)


def test_stream_to_a_file_uri(spark, tmp_path, monkeypatch):
    """A ``file://`` URI ``out_dir``: docs_text and the lineage log sit at
    the real path, not under a cwd-relative ./file: directory, and a replay
    of a committed micro-batch still finds its lineage file."""
    pages_dir = _pages_dir(spark, tmp_path)
    monkeypatch.chdir(tmp_path)
    uri_dir = (tmp_path / "sink_uri").as_uri()
    q = _drain(spark, pages_dir, uri_dir, str(tmp_path / "ckpt"))

    assert (tmp_path / "sink_uri" / "docs_text").is_dir()
    assert (tmp_path / "sink_uri" / "lineage" / f"{q.id}-0.parquet").is_file()
    assert not (tmp_path / "file:").exists()
    pipeline.run_extraction(
        spark, spark.read.parquet(pages_dir), uri_dir, run_id=f"{q.id}-0", resume=False
    )
    assert spark.read.parquet(f"{uri_dir}/docs_text").count() == len(TEXTS)


def test_restart_after_a_crash_before_commit(spark, tmp_path, monkeypatch):
    """A micro-batch that dies after its sink write and before its lineage
    file is not committed: the restart replays it, drops the rows the dead
    try left, and leaves each url once, with every run's lineage equal to
    a count over its sink rows."""
    pages_dir = _pages_dir(spark, tmp_path)
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    fold = pipeline.lineage_table
    runs = []

    def die_on_second_batch(tally, run_id):
        runs.append(run_id)
        if len(runs) == 2:
            raise RuntimeError("driver died before the commit")
        return fold(tally, run_id)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "lineage_table", die_on_second_batch)
        q = stream_extract(spark, pages_dir, out_dir, ckpt)
        with pytest.raises(StreamingQueryException, match="before the commit"):
            q.awaitTermination(120)
    dead = runs[1]
    assert os.path.isdir(os.path.join(out_dir, "docs_text", f"run_id={dead}"))
    assert not os.path.exists(os.path.join(out_dir, "lineage", f"{dead}.parquet"))

    _drain(spark, pages_dir, out_dir, ckpt)
    sink = spark.read.parquet(out_dir + "/docs_text")
    assert sink.count() == sink.select("url").distinct().count() == len(TEXTS)
    lin = spark.read.parquet(out_dir + "/lineage")
    per_run = {
        r["run_id"]: r["n"] for r in lin.groupBy("run_id").agg(F.sum("n_docs").alias("n")).collect()
    }
    assert per_run == {r["run_id"]: r["count"] for r in sink.groupBy("run_id").count().collect()}
    assert set(per_run) == {f"{q.id}-0", f"{q.id}-1"} and dead == f"{q.id}-1"
