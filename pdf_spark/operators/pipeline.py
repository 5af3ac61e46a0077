"""End-to-end extraction pipeline: pages -> docs_text (+ lineage), resumable.

Composition (SURVEY.md §2.5):

    driver: read the lineage commit log; drop uncommitted run directories
    scan (column-pruned: url, html; committed input files pruned)
      -> [optional] salted repartition (skew)
      -> mapInArrow extract (fused)         # narrow, no shuffle
           + lineage tally (accumulator, one term per Arrow batch)
      -> append parquet sink (docs_text/run_id=...)
    driver: fold the tally into per-(partition, input_file) lineage rows
      -> commit: one parquet file in lineage/, written and renamed through
         the session's Hadoop FileSystem; the summary counts are the
         fold's sums

A run is one Spark job, the sink write, which extracts, writes and
counts; nothing re-reads the sink. The run then commits with one
driver-side file write. A Delta Lake writer works the same way: it
records per-file statistics while it writes and commits by adding one log
record.

Resume: ``run_extraction`` skips every input file that a committed run
read (``lineage.remaining_pages``), so a rerun after a partial failure
only reads the files that are left (north rule: resumable from checkpoint
with lineage).

A run named by its caller (a streaming micro-batch) is idempotent: if
``lineage/<run_id>.parquet`` exists, it starts no Spark job and returns
that file's counts; else it first deletes ``docs_text/run_id=<run_id>``,
left by a try that died before its commit.
"""

from __future__ import annotations

import os

from pyspark.accumulators import _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.operators.lineage import (
    Tally,
    committed_lineage,
    drop_run,
    lineage_table,
    new_run_id,
    remaining_pages,
    tag_lineage_cols,
    write_lineage,
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

    ``resume`` skips every input file that a committed run read;
    ``resume=False`` extracts all of ``pages`` again.
    """
    if run_id is None:
        run_id = new_run_id()
    else:
        lin = committed_lineage(spark, out_dir, run_id)
        if lin is not None:
            return _summary(out_dir, run_id, lin)
        drop_run(spark, out_dir, run_id)
    # lineage columns are captured AT SCAN TIME, after the committed files
    # are pruned and before the salted repartition: input_file_name()
    # returns '' once projected after a shuffle; captured early,
    # provenance rides along as ordinary data columns.
    todo = remaining_pages(pages, spark, out_dir) if resume else tag_lineage_cols(pages)
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
    ).parquet(os.path.join(out_dir, "docs_text"))

    # the write has returned, so every task's update is merged: fold the
    # tally, then drop it from PySpark's registry, which would otherwise
    # hold it for the life of the driver
    folded = tally.value
    _accumulatorRegistry.pop(tally.aid, None)
    lin = lineage_table(folded, run_id)
    if lin.num_rows:
        write_lineage(spark, out_dir, lin, run_id)
    return _summary(out_dir, run_id, lin)


def _summary(out_dir: str, run_id: str, lin) -> dict:
    """The run summary; its counts are the sums of the lineage rows ``lin``."""
    return {
        "run_id": run_id,
        "n_ok": sum(lin.column("n_ok").to_pylist()),
        "n_err": sum(lin.column("n_err").to_pylist()),
        "docs_path": os.path.join(out_dir, "docs_text"),
        "lineage_path": os.path.join(out_dir, "lineage"),
    }
