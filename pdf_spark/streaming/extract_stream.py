"""Structured Streaming ingestion: readStream over the pages table -> the
batch pipeline, unchanged, once per micro-batch (SURVEY.md §2.5 streaming
row: "the batch UDF is reusable unchanged").

``stream_extract``'s ``foreachBatch`` body is ``run_extraction`` with
run_id ``<queryId>-<batchId>``. So a stream writes the batch sink layout
(``docs_text/run_id=…`` plus ``lineage/``), commits each micro-batch by its
lineage file and counts it with the same tally. After a restart Spark
replays an unfinished micro-batch under the same query id (kept in the
checkpoint) and batch id, and ``run_extraction`` makes a committed run_id
a no-op; a fresh checkpoint gets a fresh query id. ``Trigger.AvailableNow``
drains existing data and stops (the test/backfill mode);
``available_now=False`` tails the directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_spark.operators.pipeline import run_extraction

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming extraction into the batch sink at ``out_dir``;
    returns the StreamingQuery. Per-batch counts are in ``lineage/``."""

    def extract_batch(pages: DataFrame, batch_id: int) -> None:
        session = pages.sparkSession
        qid = session.sparkContext.getLocalProperty("sql.streaming.queryId")
        run_extraction(session, pages, out_dir, run_id=f"{qid}-{batch_id}", resume=False)

    writer = (
        read_pages_stream(spark, pages_dir)
        .writeStream.foreachBatch(extract_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
