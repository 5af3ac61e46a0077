"""Spark-layer integration tests: corpus generation, fused-vs-declarative
assembly agreement, pipeline with lineage + resume, determinism across
partition counts (SURVEY.md §5.2 items 3-5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators import pipeline
from pdf_spark.operators.assemble import assemble_docs_text
from pdf_spark.operators.extract import extract_docs_text, extract_spans
from pdf_spark.operators.partitioning import prepare_pages
from pdf_spark.operators.pipeline import run_extraction

TEXTS = [
    f"Document number {i}: the quick brown fox jumps over the lazy dog "
    f"while sentence {i} rambles on long enough to wrap across lines."
    for i in range(160)
]


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(pd.DataFrame(rows_for_texts(TEXTS)))
    df = df.repartition(8).cache()
    df.count()
    return df


def test_corpus_shape(pages):
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == len(TEXTS)
    # ~1/64 corrupt rows carry NULL expected text
    assert pages.where(F.col("text").isNull()).count() >= 1


def test_fused_extraction_matches_expected(pages):
    docs = extract_docs_text(pages)
    joined = docs.join(pages.select("url", F.col("text").alias("expected")), "url")
    ok = joined.where(F.col("status") == "ok")
    mismatches = ok.where(F.col("text") != F.col("expected")).count()
    assert mismatches == 0
    # corrupt rows -> error status, never missing
    errs = joined.where(F.col("status") == "error")
    assert errs.count() == pages.where(F.col("text").isNull()).count()
    assert docs.count() == pages.count()


def test_spans_and_declarative_assembly_match_fused(pages):
    fused = extract_docs_text(pages).select("url", "text", "status")
    spans = extract_spans(pages)
    assembled = assemble_docs_text(spans).select("url", "text", "status")
    diff = (
        fused.alias("f")
        .join(assembled.alias("a"), "url", "full")
        .where(
            (F.col("f.status") != F.col("a.status"))
            | (
                F.coalesce(F.col("f.text"), F.lit("§"))
                != F.coalesce(F.col("a.text"), F.lit("§"))
            )
        )
    )
    assert diff.count() == 0


def test_determinism_across_partition_counts(pages):
    """Same input at 2 partition counts => identical docs_text rows
    (doubles as the scaling-evidence correctness check)."""
    a = extract_docs_text(pages.repartition(2)).orderBy("url").collect()
    b = extract_docs_text(prepare_pages(pages, 16)).orderBy("url").collect()
    assert [(r.url, r.text, r.status) for r in a] == [
        (r.url, r.text, r.status) for r in b
    ]


def test_pipeline_lineage_and_resume(spark, pages, tmp_out):
    m1 = run_extraction(spark, pages, tmp_out)
    assert m1["n_ok"] + m1["n_err"] == len(TEXTS)
    lin = spark.read.parquet(m1["lineage_path"])
    agg = lin.agg(
        F.sum("n_docs").alias("d"), F.sum("n_ok").alias("o"), F.sum("n_err").alias("e")
    ).collect()[0]
    # lineage reconciles with input counts (north rule)
    assert agg["d"] == len(TEXTS)
    assert agg["o"] == m1["n_ok"] and agg["e"] == m1["n_err"]
    # error codes surfaced in the map
    codes = lin.select(F.explode("error_codes")).groupBy("key").count().collect()
    assert {r["key"] for r in codes} >= {"INVALID_VERSION"}

    # resume: second run must process zero new docs (all committed)
    docs_before = spark.read.parquet(m1["docs_path"]).count()
    m2 = run_extraction(spark, pages, tmp_out)
    docs_after = spark.read.parquet(m1["docs_path"]).count()
    assert docs_after == docs_before
    # per-run lineage reconciles with per-run input: the resumed run
    # extracted nothing, so its summary and its lineage rows claim 0 docs
    # (not the whole corpus re-tagged under the new run_id)
    assert m2["n_ok"] + m2["n_err"] == 0
    lin2 = spark.read.parquet(m2["lineage_path"]).where(
        F.col("run_id") == m2["run_id"]
    )
    assert (lin2.agg(F.sum("n_docs")).collect()[0][0] or 0) == 0
    # run-1 lineage untouched
    lin1 = spark.read.parquet(m1["lineage_path"]).where(
        F.col("run_id") == m1["run_id"]
    )
    assert lin1.agg(F.sum("n_docs")).collect()[0][0] == len(TEXTS)


LINEAGE_SCHEMA = (
    "struct<run_id:string,partition_id:string,input_file:string,"
    "offset_range:string,n_docs:bigint,n_ok:bigint,n_err:bigint,"
    "error_codes:map<string,bigint>>"
)


def _lineage_by_groupby(docs_text, run_id):
    """The declarative lineage of a run: docs_text rows (+ partition_id,
    input_file) -> one row per (partition_id, input_file), by two groupBys
    and a join over the sink."""
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
    return base.join(codes_map, ["partition_id", "input_file"], "left").select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "input_file",
        F.concat_ws("..", "first_url", "last_url").alias("offset_range"),
        "n_docs",
        "n_ok",
        "n_err",
        "error_codes",
    )


def _lineage_set(df):
    return sorted(
        tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("partition_cols", [(), ("lang",)])
def test_lineage_equals_groupby_over_sink(spark, pages, tmp_path, partition_cols):
    """Over a multi-file parquet input holding corrupt rows, a run's
    lineage rows equal a groupBy over that run's sink rows, in the pinned
    schema; files without errors carry NULL error_codes; the summary
    counts are the lineage sums; a resumed run that extracts nothing
    claims 0 docs."""
    pages_dir = str(tmp_path / "pages_pq")
    pages.write.parquet(pages_dir)
    pq = spark.read.parquet(pages_dir)
    out = str(tmp_path / "out")

    m = run_extraction(spark, pq, out, partition_cols=partition_cols)
    lin = spark.read.parquet(m["lineage_path"]).where(F.col("run_id") == m["run_id"])
    assert lin.schema.simpleString() == LINEAGE_SCHEMA
    sink = (
        spark.read.parquet(m["docs_path"])
        .where(F.col("run_id") == m["run_id"])
        .drop("run_id")
    )
    got = _lineage_set(lin)
    assert got == _lineage_set(_lineage_by_groupby(sink, m["run_id"]))

    assert len({r[2] for r in got}) >= 2  # several input files
    assert sum(r[4] for r in got) == pages.count()
    assert (m["n_ok"], m["n_err"]) == (sum(r[5] for r in got), sum(r[6] for r in got))
    assert m["n_err"] > 0
    clean = [r for r in got if r[6] == 0]
    assert clean and all(r[7] is None for r in clean)
    assert all(r[7] and sum(n for _, n in r[7]) == r[6] for r in got if r[6])

    m2 = run_extraction(spark, pq, out, partition_cols=partition_cols)
    assert m2["n_ok"] + m2["n_err"] == 0
    lin2 = spark.read.parquet(m2["lineage_path"]).where(
        F.col("run_id") == m2["run_id"]
    )
    assert lin2.count() == 0


_RETRY_SCRIPT = r"""
import json, tempfile

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators import pipeline

spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")
texts = [f"retry doc {i} with a few words of body text" for i in range(96)]
d = tempfile.mkdtemp()
spark.createDataFrame(pd.DataFrame(rows_for_texts(texts))).repartition(2).write.parquet(d + "/pages")


def fail_first_attempt(batches):
    # runs after the sort below has drained the extraction of this task
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected failure after extraction")
    yield from batches


extract = pipeline.extract_docs_text


def extract_then_fail(*a, **k):
    docs = extract(*a, **k)
    return docs.sortWithinPartitions("url").mapInArrow(fail_first_attempt, docs.schema)


pipeline.extract_docs_text = extract_then_fail
sc = spark.sparkContext
sc.setJobGroup("retry", "retry")
m = pipeline.run_extraction(spark, spark.read.parquet(d + "/pages"), d + "/out")
tracker = sc.statusTracker()
failed = sum(
    tracker.getStageInfo(s).numFailedTasks
    for j in tracker.getJobIdsForGroup("retry")
    for s in tracker.getJobInfo(j).stageIds
    if tracker.getStageInfo(s) is not None
)
lin = spark.read.parquet(m["lineage_path"]).groupBy().sum("n_docs").collect()[0][0]
sink = spark.read.parquet(m["docs_path"]).count()
print(json.dumps({"n": len(texts), "n_ok": m["n_ok"], "n_err": m["n_err"],
                  "lineage_docs": lin, "sink_rows": sink, "failed_tasks": failed}))
spark.stop()
"""


def test_lineage_counts_a_retried_task_once(tmp_path):
    """A sink-write task attempt that fails after its extraction finished
    is retried (``local[2,2]`` allows one retry per task): the summary and
    the lineage count each input doc once, not once per attempt."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["failed_tasks"] >= 1, got
    assert got["n_ok"] + got["n_err"] == got["n"], got
    assert got["lineage_docs"] == got["n"], got
    assert got["sink_rows"] == got["n"], got


def test_fixture_rows_ride_along(pages):
    """Reference fixtures injected at the fixture cadence extract to
    'Hello World!' through the full Spark path."""
    docs = extract_docs_text(pages)
    fixture_urls = pages.where(F.col("text") == "Hello World!").select("url")
    got = docs.join(fixture_urls, "url").select("text").collect()
    assert len(got) >= 1
    assert all(r["text"] == "Hello World!" for r in got)


def test_commit_log_before_first_commit(spark, tmp_path):
    """No sink directory, or one whose lineage directory holds no parquet
    files: nothing is committed yet."""
    from pdf_spark.operators.lineage import commit_log

    assert commit_log(spark, str(tmp_path / "fresh")) == (set(), set())
    (tmp_path / "empty" / "lineage").mkdir(parents=True)
    (tmp_path / "empty" / "lineage" / "_SUCCESS").touch()
    assert commit_log(spark, str(tmp_path / "empty")) == (set(), set())


def _input_files(pages, tmp_path, dirname="pages_pq"):
    """``pages`` written as a multi-file parquet table under ``dirname``;
    returns the directory and its data files."""
    import os

    pages_dir = str(tmp_path / dirname)
    pages.write.parquet(pages_dir)
    files = sorted(
        os.path.join(pages_dir, f) for f in os.listdir(pages_dir) if f.endswith(".parquet")
    )
    assert len(files) >= 4
    return pages_dir, files


def test_rerun_after_a_crash_before_commit(spark, pages, tmp_path, monkeypatch):
    """A run that dies after its sink write and before its lineage file is
    not committed: the rerun drops its rows and extracts its files again,
    so every url is in docs_text exactly once and the lineage counts
    equal the sink's rows."""
    pages_dir, files = _input_files(pages, tmp_path)
    out = str(tmp_path / "out")
    run_extraction(spark, spark.read.parquet(*files[: len(files) // 2]), out)

    def die(*a, **k):
        raise RuntimeError("driver died before the commit")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "lineage_table", die)
        with pytest.raises(RuntimeError, match="before the commit"):
            run_extraction(spark, spark.read.parquet(pages_dir), out)

    run_extraction(spark, spark.read.parquet(pages_dir), out)
    sink = spark.read.parquet(out + "/docs_text")
    assert sink.count() == sink.select("url").distinct().count() == pages.count()
    lin = spark.read.parquet(out + "/lineage")
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == pages.count()


def test_resume_prunes_committed_files_in_one_job(spark, pages, tmp_path, monkeypatch):
    """A resume over a half-committed multi-file parquet input plans no
    join and no exchange, reads only the uncommitted files' rows and runs
    one Spark job, the sink write."""
    from pyspark.sql.readwriter import DataFrameWriter

    pages_dir, files = _input_files(pages, tmp_path)
    out = str(tmp_path / "out")
    first = run_extraction(spark, spark.read.parquet(*files[: len(files) // 2]), out)
    rest = spark.read.parquet(*files[len(files) // 2 :]).count()
    assert rest == pages.count() - first["n_ok"] - first["n_err"]
    pq = spark.read.parquet(pages_dir)

    plans = []
    write = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        plans.append((path, self._df._jdf.queryExecution().executedPlan().toString()))
        return write(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc = spark.sparkContext
    sc.setJobGroup("resume-plan-pin", "resume-plan-pin")
    m = run_extraction(spark, pq, out)
    assert m["n_ok"] + m["n_err"] == rest

    sink_plans = [plan for path, plan in plans if path.endswith("docs_text")]
    assert len(sink_plans) == 1
    assert "Join" not in sink_plans[0] and "Exchange" not in sink_plans[0], sink_plans[0]
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("resume-plan-pin")
    assert len(jobs) == 1, jobs
    store = sc._jsc.sc().statusStore()
    read = sum(
        store.lastStageAttempt(s).inputRecords() for s in tracker.getJobInfo(jobs[0]).stageIds
    )
    assert read == rest


def test_resume_skips_files_with_a_space_in_their_path(spark, pages, tmp_path):
    """``input_file_name()`` and ``_metadata.file_path`` spell a local path
    differently; a committed file whose path holds a space is skipped all
    the same."""
    pages_dir, _ = _input_files(pages, tmp_path, "pages with spaces")
    out = str(tmp_path / "out dir")
    m1 = run_extraction(spark, spark.read.parquet(pages_dir), out)
    assert m1["n_ok"] + m1["n_err"] == pages.count()
    m2 = run_extraction(spark, spark.read.parquet(pages_dir), out)
    assert m2["n_ok"] + m2["n_err"] == 0
    assert spark.read.parquet(out + "/docs_text").count() == pages.count()


def test_run_extraction_releases_its_tally(spark, tmp_path):
    """PySpark's driver-side accumulator registry holds no run's lineage
    tally after ``run_extraction`` returns."""
    from pyspark import accumulators

    small = spark.createDataFrame(pd.DataFrame(rows_for_texts(TEXTS[:12])))
    before = len(accumulators._accumulatorRegistry)
    for i in range(3):
        run_extraction(spark, small, str(tmp_path / f"out{i}"))
    assert len(accumulators._accumulatorRegistry) == before


def test_rerun_of_a_committed_run_id_is_a_no_op(spark, pages, tmp_path):
    """A second run under a run_id that has committed adds no rows,
    launches no Spark job and returns the committed counts."""
    out = str(tmp_path / "out")
    first = run_extraction(spark, pages, out, run_id="run-x", resume=False)
    sc = spark.sparkContext
    sc.setJobGroup("committed-rerun", "committed-rerun")
    try:
        again = run_extraction(spark, pages, out, run_id="run-x", resume=False)
        assert sc.statusTracker().getJobIdsForGroup("committed-rerun") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again == first
    assert spark.read.parquet(out + "/docs_text").count() == pages.count()


def test_resume_of_an_in_memory_frame_logs_no_error(spark, tmp_path):
    """A resume over a frame with no ``_metadata`` column filters by row
    and logs no ERROR record on the way."""
    import logging

    from pyspark.logger import PySparkLogger

    small = spark.createDataFrame(pd.DataFrame(rows_for_texts(TEXTS[:12])))
    out = str(tmp_path / "out")
    run_extraction(spark, small, out)
    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("DataFrameQueryContextLogger")
    logger.addHandler(handler)
    try:
        m = run_extraction(spark, small, out)
    finally:
        logger.removeHandler(handler)
    assert m["n_ok"] + m["n_err"] == 0
    assert [r.getMessage() for r in records if r.levelno >= logging.ERROR] == []


def test_resume_with_parquet_pages(spark, pages, tmp_path):
    """Resume over PARQUET-backed pages (the spark-submit shape): the
    resumed run prunes the committed input files with a filter on the
    scan's ``_metadata.file_path``, and lineage provenance is captured at
    scan time. Also asserts input_file is actually populated from the scan."""
    import os

    pages_dir = str(tmp_path / "pages_pq")
    pages.write.parquet(pages_dir)
    pq = spark.read.parquet(pages_dir)
    out = str(tmp_path / "out")

    m1 = run_extraction(spark, pq, out)
    assert m1["n_ok"] + m1["n_err"] == pages.count()
    lin = spark.read.parquet(m1["lineage_path"])
    files = [r["input_file"] for r in lin.select("input_file").distinct().collect()]
    assert any("pages_pq" in (f or "") for f in files)

    m2 = run_extraction(spark, pq, out)  # resume: must plan + run cleanly
    assert m2["n_ok"] + m2["n_err"] == 0


def test_empty_input_run_is_benign(spark, tmp_path):
    """A run over zero pages must return a 0-doc summary, not crash on
    schema inference over a file-less sink directory."""
    from pdf_spark.gen.corpus import rows_for_texts as _rft

    empty = spark.createDataFrame(
        pd.DataFrame(_rft(["x"]))
    ).where(F.lit(False))
    m = run_extraction(spark, empty, str(tmp_path / "empty_out"))
    assert m["n_ok"] == 0 and m["n_err"] == 0


def test_skewed_giants_spread_and_capped(spark):
    """E2E skew handling (north rule): giants spread across partitions by
    the salted (salt, size_bucket) repartition; docs over the byte cap
    become DOC_TOO_LARGE error rows, never task failures."""
    from pdf_spark.gen.pdfgen import generate_doc

    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, _expected_text, wrap_lines

    rows = []
    for i in range(120):
        pdf, exp, _, _ = generate_doc(f"tiny doc {i} with a little text", 0)
        rows.append({"url": f"https://ex.com/t{i}", "html": pdf, "exp": exp})
    # giants: bypass generate_doc's MAX_LINES cap via the variant builder
    build_plain = dict(_GOOD_VARIANTS)["td_tj_plain"]
    for g in range(4):
        big_text = f"giant {g} sentence that wraps across many lines. " * 3000
        lines = wrap_lines(big_text, max_lines=10**9)
        pdf = build_plain(lines)
        exp = _expected_text(lines, "td_tj_plain")
        assert len(pdf) > 64 * 1024, "giant fixture unexpectedly small"
        rows.append({"url": f"https://ex.com/giant{g}", "html": pdf, "exp": exp})

    pdf_df = spark.createDataFrame(
        pd.DataFrame([{"url": r["url"], "html": r["html"]} for r in rows])
    )
    prepared = prepare_pages(pdf_df, salt_partitions=8, giant_bucket=16)

    # round-robin giant placement: all four giants on DISTINCT partitions
    part_of = (
        prepared.withColumn("pid", F.spark_partition_id())
        .where(F.col("url").startswith("https://ex.com/giant"))
        .select("url", "pid")
        .collect()
    )
    pids = [r["pid"] for r in part_of]
    assert len(set(pids)) == 4, f"giants clumped: {pids}"

    out = {r["url"]: r for r in extract_docs_text(prepared).collect()}
    assert len(out) == len(rows)
    exp_by_url = {r["url"]: r["exp"] for r in rows}
    for url, r in out.items():
        assert r["status"] == "ok", (url, r["error_code"])
        assert r["text"] == exp_by_url[url], url

    # byte cap: the giant docs error out as DOC_TOO_LARGE when the cap is low
    capped = {
        r["url"]: r
        for r in extract_docs_text(pdf_df, max_bytes=64 * 1024).collect()
    }
    for g in range(4):
        assert capped[f"https://ex.com/giant{g}"]["status"] == "error"
        assert capped[f"https://ex.com/giant{g}"]["error_code"] == "DOC_TOO_LARGE"
    assert capped["https://ex.com/t0"]["status"] == "ok"


def test_fused_operator_mixed_pdf_html(spark):
    """The fused mapInArrow stage handles a mixed PDF/HTML batch: routing
    is per row by magic bytes, and both tiers produce their expected text
    through one narrow stage."""
    import pandas as pd

    from pdf_spark.gen.htmlgen import expected_for_variant, html_article, html_messy
    from pdf_spark.gen.pdfgen import generate_doc

    rows = []
    for i in range(8):
        text = f"mixed corpus row number {i} with enough words to wrap around"
        if i % 2:
            fn, name = (html_article, "html_article") if i % 4 == 1 else (
                html_messy,
                "html_messy",
            )
            lines = [text]
            rows.append(
                dict(url=f"u{i}", html=fn(lines), exp=expected_for_variant(name, lines))
            )
        else:
            payload, exp, _, _ = generate_doc(text, i % 3)
            rows.append(dict(url=f"u{i}", html=payload, exp=exp))
    df = spark.createDataFrame(pd.DataFrame([{"url": r["url"], "html": r["html"]} for r in rows]))
    out = {r["url"]: r for r in extract_docs_text(df).collect()}
    for r in rows:
        got = out[r["url"]]
        assert got["status"] == "ok", (r["url"], got["error_code"])
        assert got["text"] == r["exp"], r["url"]


def test_partitioned_sink_prunes(spark, pages, tmp_path):
    """partition_cols=('lang',): the sink gains lang=... directories under
    run_id and a per-language read shows PartitionFilters on lang — the
    100 TB consumer's partition-pruned scan. Resume over the partitioned
    layout must still plan and extract nothing."""
    import os

    out = str(tmp_path / "out_part")
    m = run_extraction(spark, pages, out, partition_cols=("lang",))
    assert m["n_ok"] > 0

    run_dir = os.path.join(m["docs_path"], f"run_id={m['run_id']}")
    subdirs = {d for d in os.listdir(run_dir) if d.startswith("lang=")}
    assert subdirs, "sink not partitioned by lang"

    df = spark.read.parquet(m["docs_path"]).where(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re
    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "lang" in pf.group(1), plan[:2000]
    assert df.count() == pages.where(F.col("lang") == "en").count()

    m2 = run_extraction(spark, pages, out, partition_cols=("lang",))
    assert m2["n_ok"] + m2["n_err"] == 0


def test_two_column_agreement_fused_vs_declarative(spark):
    """A genuinely SPLIT two-column doc (long enough to trigger the gutter
    detector) must extract byte-identically through the fused path and the
    declarative span-assembly path — i.e. the `col` ordering key flows
    through the Spark-side sort too. The module corpus fixture's texts are
    too short to split, so this doc is crafted explicitly."""
    from pdf_spark.gen.corpus import make_row
    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc
    from pdf_spark.operators.assemble import assemble_docs_text
    from pdf_spark.operators.extract import extract_spans

    vi = [i for i, (n, _) in enumerate(_GOOD_VARIANTS) if n == "twocolumn"][0]
    long_text = " ".join(f"col word {j} text" for j in range(80))
    rows = [make_row(vi, long_text)]
    pages = spark.createDataFrame(pd.DataFrame(rows))

    fused = extract_docs_text(pages).collect()[0]
    decl = assemble_docs_text(extract_spans(pages)).collect()[0]
    _, expected, name, _ = generate_doc(long_text, vi)
    assert name == "twocolumn"
    assert fused["text"] == expected  # actually split (column-major rewrap)
    assert decl["text"] == expected


def test_extract_markdown_column(spark):
    """markdown=True adds an md column whose marker-stripped text equals
    the text column (coverage contract through the fused Arrow path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_spark.gen.corpus import rows_for_texts
    from pdf_spark.operators.extract import extract_docs_text

    pages = spark.createDataFrame(
        pd.DataFrame(rows_for_texts([f"md column doc {i}" for i in range(12)]))
    )
    docs = extract_docs_text(pages, markdown=True)
    assert "md" in docs.columns
    rows = docs.filter(F.col("status") == "ok").collect()
    assert rows
    for r in rows:
        stripped = "\n".join(
            l[3:] if l.startswith("## ") else l for l in r["md"].split("\n")
        )
        assert stripped == r["text"]
