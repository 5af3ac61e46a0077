"""End-to-end extraction pipeline: pages -> docs_text (+ lineage), resumable.

Composition (SURVEY.md §2.5):

    scan (column-pruned: url, html)
      -> [optional] salted repartition (skew)
      -> mapInArrow extract (fused)         # narrow, no shuffle
           + lineage tally (accumulator, one term per Arrow batch)
      -> append parquet sink (docs_text/run_id=...)
    driver: fold the tally into per-(partition, input_file) lineage rows
      -> one small parquet append (lineage); the summary counts are the
         fold's sums

One Spark job extracts, writes and counts: nothing re-reads the sink, as
a Delta Lake writer records per-file statistics while it writes.

Resume: ``run_extraction`` anti-joins the input against already-committed
urls before extracting, so a rerun after a partial failure only processes
the remainder (north rule: resumable from checkpoint with lineage).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.operators.lineage import (
    LINEAGE_SCHEMA,
    Tally,
    lineage_table,
    new_run_id,
    remaining_pages,
    tag_lineage_cols,
)
from pdf_spark.operators.partitioning import prepare_pages


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    salt_partitions: int | None = None,
    resume: bool = True,
    run_id: str | None = None,
    partition_cols: tuple[str, ...] = (),
    markdown: bool = False,
) -> dict:
    """Execute the pipeline; returns summary metrics.

    ``partition_cols`` names string columns from ``pages`` (e.g. ``lang``)
    that ride through extraction and become sink partition directories
    AFTER run_id — downstream per-language/per-crawl consumers then read
    with partition pruning (an Iceberg identity-partition spec at 100 TB:
    a reader of one language scans that directory only, never the corpus).
    run_id stays the leading partition so one run's output stays one
    directory regardless. Use the SAME partition_cols for the life of a
    sink: parquet partition discovery rejects a directory whose runs
    disagree on layout (Iceberg would carry this as the table's
    partition spec and evolve it per-snapshot instead).
    """
    run_id = run_id or new_run_id()
    docs_path = os.path.join(out_dir, "docs_text")
    # lineage columns are captured AT SCAN TIME, before the anti-join or
    # the salted repartition: input_file_name() only resolves over a
    # single file source (a resume plan joins two parquet relations —
    # MULTI_SOURCES_UNSUPPORTED otherwise) and would return '' if
    # projected after a shuffle; captured early, provenance rides along
    # as ordinary data columns.
    todo = tag_lineage_cols(pages)
    if resume:
        todo = remaining_pages(todo, spark, out_dir)
    todo = prepare_pages(todo, salt_partitions)

    tally = spark.sparkContext.accumulator({}, Tally())
    docs = extract_docs_text(
        todo,
        passthrough=("input_file", "partition_id", *partition_cols),
        markdown=markdown,
        tally=tally,
    )
    # Exactly-once lineage: the tallying UDF runs only inside the sink
    # write's result stage, and Spark merges a result task's accumulator
    # updates once per partition, dropping those of failed attempts. So
    # ``docs`` must never feed a second action — no cache(), no count()
    # before the write — or its documents would be tallied twice.
    docs.withColumn("run_id", F.lit(run_id)).write.mode("append").partitionBy(
        "run_id", *partition_cols
    ).parquet(docs_path)

    # O(files) rows from a pyarrow Table: built in the JVM from Arrow
    # batches, with no Python worker
    lin = lineage_table(tally.value, run_id)
    lin_path = os.path.join(out_dir, "lineage")
    spark.createDataFrame(lin, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(lin_path)
    return {
        "run_id": run_id,
        "n_ok": sum(lin.column("n_ok").to_pylist()),
        "n_err": sum(lin.column("n_err").to_pylist()),
        "docs_path": docs_path,
        "lineage_path": lin_path,
    }
