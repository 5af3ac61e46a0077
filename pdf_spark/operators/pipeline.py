"""End-to-end extraction pipeline: pages -> docs_text (+ lineage), resumable.

Composition (SURVEY.md §2.5):

    scan (column-pruned: url, html)
      -> [optional] salted repartition (skew)
      -> mapInArrow extract (fused)         # narrow, no shuffle
      -> append parquet sink (docs_text/run_id=...)
      -> lineage aggregation over this run's partition only
         -> parquet append (lineage); the summary counts are observed
            over the lineage rows in that same write

Resume: ``run_extraction`` anti-joins the input against already-committed
urls before extracting, so a rerun after a partial failure only processes
the remainder (north rule: resumable from checkpoint with lineage).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.operators.lineage import (
    lineage_rows,
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
    run_id stays the leading partition so lineage/resume still prune to
    one run regardless. Use the SAME partition_cols for the life of a
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

    docs = extract_docs_text(
        todo,
        passthrough=("input_file", "partition_id", *partition_cols),
        markdown=markdown,
    )
    # Sink is partitioned by run_id so lineage + summary can be derived from
    # THIS run's output only (partition-pruned read — O(this run), never a
    # rescan of the whole committed corpus; on Iceberg this is the snapshot
    # the append created). A resumed run that extracts 0 new docs therefore
    # reports 0 docs in its lineage instead of re-claiming the corpus.
    docs.withColumn("run_id", F.lit(run_id)).write.mode("append").partitionBy(
        "run_id", *partition_cols
    ).parquet(docs_path)

    # schema passed explicitly: a first run over an empty/fully-filtered
    # input writes only _SUCCESS, and schema inference on a file-less
    # directory raises instead of returning the benign 0-row frame
    # fresh StructType: StructType.add mutates in place, and DataFrame.schema
    # returns the cached object — docs.schema must not grow a phantom run_id
    sink_schema = T.StructType(
        list(docs.schema.fields) + [T.StructField("run_id", T.StringType())]
    )
    written = (
        spark.read.schema(sink_schema).parquet(docs_path)
        .where(F.col("run_id") == run_id)
        .drop("run_id")
    )
    # the summary counts are sums over the lineage rows, observed inside
    # the lineage write: no second pass over this run's sink
    summary = Observation()
    lin = lineage_rows(written, run_id).observe(
        summary,
        F.coalesce(F.sum("n_ok"), F.lit(0)).alias("n_ok"),
        F.coalesce(F.sum("n_err"), F.lit(0)).alias("n_err"),
    )
    lin_path = os.path.join(out_dir, "lineage")
    lin.write.mode("append").parquet(lin_path)
    counts = summary.get
    return {
        "run_id": run_id,
        "n_ok": counts["n_ok"],
        "n_err": counts["n_err"],
        "docs_path": docs_path,
        "lineage_path": lin_path,
    }
