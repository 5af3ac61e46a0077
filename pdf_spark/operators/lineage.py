"""Per-partition lineage/metrics + snapshot resume (north rule).

- ``tag_lineage_cols`` tags each input row at scan time with its
  ``spark_partition_id`` and the input file it came from
  (``input_file_name``); both ride the extraction UDF as passthrough
  columns.

- Lineage is tallied by the writer, as it writes: the extraction UDF adds
  one ``batch_tally`` per Arrow batch to a ``Tally`` accumulator, keyed
  ``(partition_id, input_file, status, error_code)`` and holding
  ``[count, min url, max url]``. ``lineage_table`` folds that tally on
  the driver into one lineage row per (partition, input_file) (FIXTURES.md
  §7): doc counts, ok/err split, per-error-code counts and min..max url as
  the offset-range analogue. There are O(files) rows, so the fold needs no
  join and nothing re-reads the sink.

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

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("input_file", T.StringType()),
        T.StructField("offset_range", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_err", T.LongType()),
        T.StructField("error_codes", T.MapType(T.StringType(), T.LongType())),
    ]
)


def tag_lineage_cols(pages: DataFrame) -> DataFrame:
    # partition_id as string so it can ride the UDF passthrough unchanged
    return pages.withColumn("input_file", F.input_file_name()).withColumn(
        "partition_id", F.spark_partition_id().cast("string")
    )


def _merge(tally: dict, key, n: int, lo, hi) -> None:
    """Add ``n`` docs whose urls span ``lo..hi`` to ``tally[key]``; a null
    url is counted but never a bound, as Spark's ``min``/``max`` skip
    nulls."""
    cur = tally.get(key)
    if cur is None:
        tally[key] = [n, lo, hi]
        return
    cur[0] += n
    if lo is not None and (cur[1] is None or lo < cur[1]):
        cur[1] = lo
    if hi is not None and (cur[2] is None or hi > cur[2]):
        cur[2] = hi


class Tally(AccumulatorParam):
    """``{(partition_id, input_file, status, error_code): [n, min url,
    max url]}``, merged by ``_merge``."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, (n, lo, hi) in b.items():
            _merge(a, key, n, lo, hi)
        return a


def batch_tally(partition_ids, input_files, urls, statuses, codes) -> dict:
    """One Arrow batch's rows -> its ``Tally`` term."""
    out: dict = {}
    for pid, f, url, status, code in zip(partition_ids, input_files, urls, statuses, codes):
        _merge(out, (pid, f, status, code), 1, url, url)
    return out


def lineage_table(tally: dict, run_id: str) -> pa.Table:
    """A run's tally -> its lineage rows, as a pyarrow Table in
    ``LINEAGE_SCHEMA``: per (partition_id, input_file), ``offset_range``
    is ``min..max`` url (``''`` when every url is null, as ``concat_ws``)
    and ``error_codes`` counts error rows per code (NULL without errors)."""
    docs: dict = {}
    splits: dict = {}
    for (pid, f, status, code), (n, lo, hi) in tally.items():
        _merge(docs, (pid, f), n, lo, hi)
        split = splits.setdefault((pid, f), [0, 0, {}])
        if status == "ok":
            split[0] += n
        elif status == "error":
            split[1] += n
            split[2][code] = split[2].get(code, 0) + n
    rows = []
    for (pid, f), (n, lo, hi) in docs.items():
        n_ok, n_err, codes = splits[(pid, f)]
        rows.append({
            "run_id": run_id,
            "partition_id": pid,
            "input_file": f,
            "offset_range": "" if lo is None else f"{lo}..{hi}",
            "n_docs": n,
            "n_ok": n_ok,
            "n_err": n_err,
            "error_codes": list(codes.items()) or None,
        })
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA))


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
