"""Per-partition lineage/metrics + snapshot resume (north rule).

- ``tag_lineage_cols`` tags each input row at scan time with its
  ``spark_partition_id`` and the input file it came from
  (``input_file_name``); both ride the extraction UDF as passthrough
  columns. ``lineage_rows`` then groups the extracted rows into one
  lineage row per (partition, input_file): doc counts, ok/err split,
  per-error-code counts, min/max url as the offset-range analogue.

- Resume: the sink is an append-only parquet directory keyed by ``url``.
  ``remaining_pages`` anti-joins the input against already-committed urls
  — rerunning after a partial failure processes only the tail. On Iceberg
  this would be a snapshot-scoped MERGE; parquet-dir + anti-join gives the
  same at-least-once-input / exactly-once-output semantics in the sandbox
  (idempotent by url).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tag_lineage_cols(pages: DataFrame) -> DataFrame:
    # partition_id as string so it can ride the UDF passthrough unchanged
    return pages.withColumn("input_file", F.input_file_name()).withColumn(
        "partition_id", F.spark_partition_id().cast("string")
    )


def lineage_rows(docs_text: DataFrame, run_id: str) -> DataFrame:
    """docs_text (+ partition_id, input_file) -> lineage table rows
    (FIXTURES.md §7)."""
    per_code = (
        docs_text.where(F.col("status") == "error")
        .groupBy("partition_id", "input_file", "error_code")
        .count()
    )
    codes_map = per_code.groupBy("partition_id", "input_file").agg(
        F.map_from_entries(
            F.collect_list(F.struct("error_code", "count"))
        ).alias("error_codes")
    )
    base = docs_text.groupBy("partition_id", "input_file").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_err"),
        F.min("url").alias("first_url"),
        F.max("url").alias("last_url"),
    )
    return (
        base.join(codes_map, ["partition_id", "input_file"], "left")
        .withColumn("run_id", F.lit(run_id))
        .withColumn(
            "offset_range", F.concat_ws("..", "first_url", "last_url")
        )
        .select(
            "run_id",
            "partition_id",
            "input_file",
            "offset_range",
            "n_docs",
            "n_ok",
            "n_err",
            "error_codes",
        )
    )


def committed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The sink's committed urls, or None before its first commit. The
    path is checked through the session's Hadoop FileSystem first, so a
    first run does not log a PATH_NOT_FOUND stack trace; the ``except``
    covers a sink directory that holds no parquet files yet."""
    path = os.path.join(out_dir, "docs_text")
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return None
    try:
        return spark.read.parquet(path).select("url")
    except Exception:
        return None


def remaining_pages(pages: DataFrame, spark: SparkSession, out_dir: str) -> DataFrame:
    """Anti-join input against committed output -> resume from checkpoint.
    The join strategy is the planner's: the url-only committed side is
    broadcast while its size estimate is under the session's
    ``autoBroadcastJoinThreshold`` and shuffled (AQE) above it."""
    done = committed_urls(spark, out_dir)
    if done is None:
        return pages
    return pages.join(done, "url", "left_anti")


def new_run_id() -> str:
    return f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
