"""The extraction job's Spark settings, in one place.

``job_conf()`` is the job's table of SQL settings. Every way the job
starts reads it: ``spark_session`` (tests, benchmarks, local runs) and
``scripts/run_job.py`` (``spark-submit --py-files``, the deployment
shape). Every key is per-executor-safe at any cluster width:

- Arrow on end to end (the only Python<->JVM traffic is columnar);
- ``maxRecordsPerBatch`` kept small (``BATCH_ROWS``, 64): one Arrow batch
  must never hold two oversized PDFs (SURVEY.md §7.3 hard part #3) — batch
  memory is bounded by ``batch_rows × max_doc_bytes``;
- ``maxPartitionBytes`` 64m, read from ``SPARK_GRAFT_MAX_PARTITION_BYTES``
  when the session is built;
- session time zone UTC;
- broadcast threshold 64 MB: a join whose smaller side is under it is
  broadcast. The job itself plans no join (a resume prunes committed
  input files instead), so the value only serves joins that callers
  add; query plans and ``tests/test_submit.py`` pin it.

Master, executor sizing and shuffle partitions belong to whoever starts
the job: ``spark_session`` sets them for a ``local[cores]`` run, and on a
cluster the submitter does. For the table's own keys the table wins over
a submitter's ``--conf``, since they are the job's contract.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

# rows per Arrow batch into a Python UDF, and at most per frame a source
# UDF yields (``sources/warc.read_warc``)
BATCH_ROWS = 64


def job_conf() -> dict[str, str]:
    """The job's SQL settings; the environment is read on each call, so a
    session built after ``SPARK_GRAFT_MAX_PARTITION_BYTES`` changes sees
    the new value."""
    return {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(BATCH_ROWS),
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
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "64m"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def spark_session(app: str = "pdf-spark", cores: int | None = None) -> SparkSession:
    """A ``local[cores]`` session running the job's settings; ``cores``
    defaults to ``SPARK_GRAFT_CPUS``, else the host's core count."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config(map=job_conf())
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


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
