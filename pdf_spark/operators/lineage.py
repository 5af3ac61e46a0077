"""Per-partition lineage/metrics + resume from the lineage commit log (north rule).

- ``tag_lineage_cols`` tags each input row at scan time with its
  ``spark_partition_id`` and the input file it came from
  (``input_file_name``, unless the source already carries an
  ``input_file`` column, as ``read_warc`` does; a frame that dropped it
  raises); both ride the extraction UDF as passthrough columns.

- Lineage is tallied by the writer, as it writes: the extraction UDF adds
  one ``batch_tally`` per Arrow batch to a ``Tally`` accumulator, keyed
  ``(partition_id, input_file, status, error_code)`` and holding
  ``[count, min url, max url]``. ``lineage_table`` folds that tally on
  the driver into one lineage row per (partition, input_file) (FIXTURES.md
  §7): doc counts, ok/err split, per-error-code counts and min..max url as
  the offset-range analogue. There are O(files) rows, so the fold needs no
  join and nothing re-reads the sink.

- Commit log: a run is committed when its lineage file lands.
  ``write_lineage`` writes the run's rows after its sink write, as one
  parquet file ``lineage/<run_id>.parquet`` put down on the driver under a
  hidden name and renamed, the way a Delta Lake writer commits by adding
  one log record. ``remaining_pages`` resumes from that log with no join:
  it deletes the ``docs_text/run_id=…`` directories that no lineage file
  names (a run that died between its write and its commit) and prunes
  every input file that a committed run read. Resume is therefore by input
  file: a rerun after a partial failure reads only the files that no
  committed run read. An input with no file behind it (an in-memory frame)
  counts as one file, ``''``. A run named by its caller commits once
  (``committed_lineage``, ``drop_run``).
"""

from __future__ import annotations

import os
import re
import time
import uuid
from urllib.parse import unquote

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.errors import AnalysisException
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


def _scan_file_path(pages: DataFrame):
    """``pages``' ``_metadata.file_path`` column, or None for a frame with
    no ``_metadata`` (in-memory, ``foreachBatch``), where
    ``input_file_name()`` still names the right file or ``''``.

    Spark passes a scan's metadata columns through a Python UDF, so above
    ``read_warc``'s flattening ``_metadata`` resolves but its
    ``file_path`` fails analysis. Such a frame must keep the
    ``input_file`` its source wrote: ``input_file_name()`` there names
    whichever file the task read last, and a frame that dropped it raises
    ``ValueError`` rather than write wrong lineage."""
    try:  # metadataColumn raises without logging; a failed F.col logs an ERROR
        path = pages.metadataColumn("_metadata")["file_path"]
    except AnalysisException:
        return None
    try:
        pages.select(path)
    except AnalysisException as e:
        raise ValueError(
            "this frame's source names each row's input file in an input_file"
            " column, and the frame dropped it: keep the source's input_file"
        ) from e
    return path


def tag_lineage_cols(pages: DataFrame) -> DataFrame:
    if "input_file" not in pages.columns:
        _scan_file_path(pages)
    return _tag(pages)


def _tag(pages: DataFrame) -> DataFrame:
    """``tag_lineage_cols`` once ``pages`` has been probed."""
    # read_warc brings its own input_file (see _scan_file_path)
    if "input_file" not in pages.columns:
        pages = pages.withColumn("input_file", F.input_file_name())
    # partition_id as string so it can ride the UDF passthrough unchanged
    return pages.withColumn("partition_id", F.spark_partition_id().cast("string"))


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


def _fs(spark: SparkSession, path: str):
    """``path`` as a Hadoop ``Path``, with the session's ``FileSystem``
    for it."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _listing(fs, hpath) -> list:
    """The visible entries of directory ``hpath`` (none if it is absent):
    Spark's hidden names (``_SUCCESS``, ``.crc`` files, a lineage file
    not yet renamed) are skipped, as a parquet read skips them."""
    if not fs.exists(hpath):
        return []
    return [
        st for st in fs.listStatus(hpath)
        if not st.getPath().getName().startswith(("_", "."))
    ]


def _read_lineage(spark: SparkSession, fs, hpath, columns=None) -> pa.Table:
    """Lineage file ``hpath``, read on the driver through the session's
    Hadoop FileSystem (no Spark job)."""
    # imported here, not at the top: workers import this module for
    # batch_tally, and pyarrow.parquet adds ~3 MB to each of them
    import pyarrow.parquet as pq

    stream = fs.open(hpath)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return pq.read_table(pa.BufferReader(data), columns=columns)


def commit_log(spark: SparkSession, out_dir: str) -> tuple[set, set]:
    """The sink's commit log: the input files and the run_ids that its
    lineage files name (O(files) rows). A lineage file written by
    ``write_lineage`` or by an older Spark append reads the same."""
    hpath, fs = _fs(spark, os.path.join(out_dir, "lineage"))
    files: set = set()
    run_ids: set = set()
    for st in _listing(fs, hpath):
        rows = _read_lineage(spark, fs, st.getPath(), ["run_id", "input_file"])
        run_ids.update(rows.column("run_id").to_pylist())
        files.update(rows.column("input_file").to_pylist())
    return files, run_ids


def committed_lineage(spark: SparkSession, out_dir: str, run_id: str) -> pa.Table | None:
    """Run ``run_id``'s lineage rows if its lineage file has landed, else
    None: one file is read, whatever the size of the log."""
    hpath, fs = _fs(spark, os.path.join(out_dir, "lineage", f"{run_id}.parquet"))
    return _read_lineage(spark, fs, hpath) if fs.exists(hpath) else None


def drop_uncommitted_runs(spark: SparkSession, out_dir: str, run_ids: set) -> None:
    """Delete every ``docs_text/run_id=…`` directory whose run has no
    lineage file: a run that died after its sink write and before its
    commit left it, and a resume extracts its files again."""
    hpath, fs = _fs(spark, os.path.join(out_dir, "docs_text"))
    for st in _listing(fs, hpath):
        key, _, value = st.getPath().getName().partition("=")
        if key == "run_id" and unquote(value) not in run_ids:
            fs.delete(st.getPath(), True)


def run_dir(spark: SparkSession, out_dir: str, run_id: str) -> str:
    """Run ``run_id``'s ``docs_text/run_id=…`` directory, its value escaped
    as the sink's writer escapes it."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    return os.path.join(out_dir, "docs_text", f"run_id={escape(run_id)}")


def drop_run(spark: SparkSession, out_dir: str, run_id: str) -> None:
    """Delete run ``run_id``'s ``docs_text`` directory, if a try of the run
    that died before its commit left one."""
    hpath, fs = _fs(spark, run_dir(spark, out_dir, run_id))
    fs.delete(hpath, True)


def _scan_spelling(path: str) -> str:
    """An ``input_file_name()`` path as ``_metadata.file_path`` spells it:
    both are URL-encoded, but the first writes an empty authority as
    ``file:///p`` and the second as ``file:/p``."""
    return re.sub(r"^([A-Za-z][\w+.-]*):///", r"\1:/", path)


def remaining_pages(pages: DataFrame, spark: SparkSession, out_dir: str) -> DataFrame:
    """Resume from the commit log: ``pages`` without every input file that
    a committed run read, tagged by ``tag_lineage_cols``. A file source is
    pruned by a filter on ``_metadata.file_path`` straight over its scan,
    so committed files drop out at planning and are never read; a source
    with no ``_metadata`` (an in-memory frame) or with its own
    ``input_file`` (``read_warc``) is filtered by row on ``input_file``,
    where all rows with no file (``''``) form one input. Uncommitted run
    directories are deleted first."""
    files, run_ids = commit_log(spark, out_dir)
    drop_uncommitted_runs(spark, out_dir, run_ids)
    # a source that named its own files is not probed
    path = None if "input_file" in pages.columns else _scan_file_path(pages)
    if not files:
        return _tag(pages)
    if path is not None:
        scanned = sorted({_scan_spelling(f) for f in files})
        return _tag(pages.where(~path.isin(scanned)))
    return _tag(pages).where(~F.col("input_file").isin(sorted(files)))


def write_lineage(spark: SparkSession, out_dir: str, table: pa.Table, run_id: str) -> None:
    """Commit a run: its lineage rows become ``lineage/<run_id>.parquet``,
    one parquet file written on the driver through the session's Hadoop
    FileSystem under a hidden name and then renamed, so the file appears
    whole or not at all."""
    import pyarrow.parquet as pq  # imported here for the reason in commit_log

    lin, fs = _fs(spark, os.path.join(out_dir, "lineage"))
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp, final = Path(lin, f".{run_id}.parquet.tmp"), Path(lin, f"{run_id}.parquet")
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise RuntimeError(f"could not commit lineage file {final.toString()}")


def new_run_id() -> str:
    return f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
