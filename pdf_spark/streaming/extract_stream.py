"""Structured Streaming ingestion: readStream over the pages table ->
the SAME batched extraction UDF, unchanged (SURVEY.md §2.5 streaming
row: "the batch UDF is reusable unchanged — this is the idiomatic Spark
dividend"). Two sink shapes:

- ``stream_extract``: file-source stream over a pages parquet directory,
  fused extraction per micro-batch, append to parquet + checkpoint dir
  (exactly-once via the sink's write-ahead commit log). ``Trigger.
  AvailableNow`` drains existing data and stops — the test/backfill mode;
  omit for continuous tailing. ``observe=True`` adds per-batch
  n_docs/n_ok/n_err metrics with no extra pass.

- ``stream_extract_upsert``: the same extraction through a
  ``foreachBatch`` sink (``upsert_batch``) that makes a replayed
  micro-batch a no-op, for sinks without transactional append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_spark.operators.extract import extract_docs_text

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
    observe: bool = False,
):
    """Start the streaming extraction; returns the StreamingQuery.

    With ``observe=True`` the plan carries a Dataset.observe() node named
    ``extract_metrics`` (n_docs / n_ok / n_err per micro-batch): the
    accumulator-backed metrics surface in every StreamingQueryProgress
    under ``observedMetrics`` — the zero-extra-pass monitoring hook a
    production pipeline alarms on (an extra count() per batch would
    re-run the whole Arrow extract; observe costs one accumulator
    update inside the pass that already runs)."""
    stream = read_pages_stream(spark, pages_dir)
    docs = extract_docs_text(stream)
    if observe:
        docs = docs.observe(
            "extract_metrics",
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") != "ok").cast("long")).alias("n_err"),
        )
    writer = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_batch(docs_batch: DataFrame, batch_id: int, out_dir: str) -> bool:
    """Idempotent micro-batch writer for non-transactional sinks.

    Structured Streaming replays a micro-batch after failure with the
    SAME batch_id; a sink without transactional append (JDBC, plain
    object-store prefix) must make the replay a no-op itself. The
    standard recipe, implemented here: (1) a committed-marker check
    keyed by batch_id short-circuits replays of finished batches;
    (2) the data write is mode("overwrite") into a batch_id-suffixed
    prefix, so replaying a HALF-written batch overwrites the partial
    output instead of appending next to it; (3) the marker is created
    only after the write returns — write-then-commit order is what makes
    the pair exactly-once. Markers are read and written through the
    session's Hadoop FileSystem, so they sit beside the data on any
    ``out_dir`` URI. Returns True if the batch was written, False if it
    was a replay skip."""
    spark = docs_batch.sparkSession
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        f"{out_dir}/_committed/{batch_id}"
    )
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(marker):  # replayed, already fully committed
        return False
    docs_batch.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
    fs.create(marker).close()
    return True


def stream_extract_upsert(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming extraction through a foreachBatch exactly-once upsert
    sink (the deployment shape when the sink is not a transactional
    file sink — e.g. a warehouse table). Batch twin: stream_extract."""
    stream = read_pages_stream(spark, pages_dir)
    docs = extract_docs_text(stream)
    return (
        docs.writeStream.foreachBatch(
            lambda df, bid: upsert_batch(df, bid, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
