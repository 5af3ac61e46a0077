"""SparkSession factory tuned for the extraction workload.

Sandbox runs on ``local[N]`` (single JVM); the same config block is what we
would ship to a 1000-executor cluster via ``spark-submit --py-files`` — all
knobs are per-executor-safe:

- Arrow enabled end-to-end (the only Python<->JVM traffic is columnar);
- ``maxRecordsPerBatch`` kept small (64): one Arrow batch must never hold
  two oversized PDFs (SURVEY.md §7.3 hard part #3) — batch memory is
  bounded by ``batch_rows × max_doc_bytes``;
- AQE on (runtime coalescing + skew-join splitting for the relational ops);
- shuffle partitions default to cores (local) — on a real cluster this is
  set to 2-3× total cores by the submitter.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 64


def spark_session(
    app: str = "pdf-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # split sizing, re-measured after the round-3 parse speedups
        # (~2.5 MB/s/core): 64 MB splits are ~25 s tasks — granular enough
        # for wave balancing at any cluster width. A reused Python worker
        # also pays a fixed cost per task outside the UDF; measured on 4
        # cores (PySpark 4.1.2, CPython 3.11.7), median per task:
        # importlib.invalidate_caches ~100 ms and the post-task gc.collect
        # ~40 ms without task_prologue, ~0.1 ms and ~0.3 ms with it. The
        # old 8 MB value quadrupled task count for the same bytes and cost
        # ~17% wall on the measured corpus. Under-utilization is
        # impossible: spark.sql.files.minPartitionNum (defaults to
        # spark.default.parallelism) floors the split count at the
        # cluster's core count regardless of this cap.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()


# the task attempt whose prologue ran last in this worker process
_prologue_attempt: int | None = None


def task_prologue() -> None:
    """Run as the first statement of a Python UDF body (``extract_docs_text``,
    ``extract_spans`` and ``map_rows`` do).

    A reused PySpark worker pays two fixed costs per task outside the UDF:
    ``importlib.invalidate_caches()`` at task start, which on CPython 3.11
    makes every cached ``zipimporter`` (one per imported ``pyspark.zip``
    package directory) re-read the archive's central directory, and the
    daemon's ``gc.collect()`` after the task, which walks the worker's
    whole long-lived heap. Dropping the zipimporters leaves the
    invalidation nothing to re-read (the next import rebuilds a finder
    from zipimport's own directory cache), and ``gc.freeze()`` moves the
    heap out of the collector's reach. The freeze is safe because the
    daemon collects after every task, so the heap at task start holds no
    garbage, and the executor-lifetime caches only grow, up to their caps.

    Runs once per task attempt: a body Spark calls once per group
    (``applyInPandasWithState``) returns at once on its later calls, since a
    freeze there would move the earlier groups' garbage out of the
    collector's reach for good. A no-op outside a Spark task, so the
    driver's heap is never frozen.
    """
    global _prologue_attempt
    ctx = TaskContext.get()
    if ctx is None:
        return
    # None: a context without an attempt id (not set by a worker); run
    attempt = getattr(ctx, "_taskAttemptId", None)
    if attempt is not None and attempt == _prologue_attempt:
        return
    _prologue_attempt = attempt
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)
    gc.freeze()
