#!/usr/bin/env python3
"""Extraction benchmark: end-to-end docs/s and per-layer ms/doc.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 14 --trace 1

Each workload is a closed loop with one client: a single process
runs one pass at a time over seeded inputs (see ``workloads.py``) on a
``local[nproc]`` session, each pass starting after the previous one ends.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced replay (see ``spans.py``). The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the run's environment, per-pass walls, load
averages and the bases of every ratio. Every output document is checked
against the generator's ground truth outside the timed window, and any
mismatch makes the run exit non-zero.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402
import pyarrow  # noqa: E402

from pdf_spark.core import extract as cx  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

SETUP_CYCLES = 5  # session restarts per run; setup_s is their median
MIN_PASSES = 3  # steady passes per run, however short --seconds is
# untimed passes after the cold one, over the first half of the input files
# plus one (for a resume, one file of new documents): the JVM's JIT keeps
# speeding a job up for its first few runs whatever their size: a resume
# pass on 4 cores fell by a third over its first six runs
WARMUP_PASSES = 3
TRACE_PASSES = 3  # timed Spark passes in a traced run
# input files per core: enough for the scheduler to balance a slow split,
# few enough that the Python UDF's per-task cost does not swamp a pass
FILES_PER_CORE = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository (the
    ceiling keeps git from searching the directories above it)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment() -> dict:
    return {
        "nproc": nproc(),
        "git_sha": git_sha(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": list(os.getloadavg()),
    }


def isolate(run_dir: str) -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    warehouse = os.path.join(run_dir, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + warehouse)} pyspark-shell"
    )


# -- Python worker memory ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def worker_peak_rss_mb() -> float:
    """Largest VmHWM over this process's pyspark Python worker descendants."""
    kids = _children()
    todo, peak = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


# -- correctness --------------------------------------------------------------


class Check:
    """Per-document verdicts against the generator's ground truth."""

    def __init__(self) -> None:
        self.attempted = 0
        self.good = 0
        self.wrong_text = 0  # good docs whose text differs (or that errored)
        self.failed = 0  # status/error_code differs, or the doc was lost
        self.notes: list[str] = []

    def doc(self, url, expected_text, expected_err, status, error_code, text) -> None:
        self.attempted += 1
        if expected_text is not None:
            self.good += 1
            if status != "ok":
                self.failed += 1
            if status != "ok" or text != expected_text:
                self.wrong_text += 1
                self._note(f"wrong text: {url}")
        elif status != "error" or error_code != expected_err:
            self.failed += 1
            self._note(f"wrong status: {url} {status} {error_code} != {expected_err}")

    def lost(self, url: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self._note(f"{why}: {url}")

    def _note(self, s: str) -> None:
        if len(self.notes) < 10:
            self.notes.append(s)

    @property
    def ok(self) -> bool:
        return self.attempted > 0 and self.failed == 0 and self.wrong_text == 0

    def summary(self) -> dict:
        return {
            "attempted": self.attempted,
            "good_docs": self.good,
            "wrong_text_ratio": self.wrong_text / max(1, self.good),
            "failed_ratio": self.failed / max(1, self.attempted),
            "notes": self.notes,
        }


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def check_rows(check: Check, inp, rows) -> None:
    """rows: (url, status, error_code, SHA-256 of the text, expected error
    from expected_error_col or None) from the program's output; every
    input url must appear exactly once."""
    expected = {u: i for i, u in enumerate(inp.urls)}
    seen: set = set()
    for url, status, code, digest, spark_err in rows:
        i = expected.get(url)
        if i is None or url in seen:
            check.lost(url, "unexpected or duplicated url")
            continue
        seen.add(url)
        if spark_err is not None and spark_err != inp.errors[i]:
            check.lost(url, "expected_error_col disagrees with the generator")
            continue
        want = inp.texts[i]
        want = None if want is None else sha256_hex(want)
        check.doc(url, want, inp.errors[i], status, code, digest)
    for url in inp.urls:
        if url not in seen:
            check.lost(url, "missing from output")


# -- serial baseline ----------------------------------------------------------


class Serial:
    """The no-Spark baseline: ``extract_document`` + ``assemble_text`` in
    this process over the first ``docs`` inputs (whole variant cycles).
    Each replay extracts every one of them once; every document's ms in
    every replay is kept."""

    def __init__(self, inp, docs: int, check: Check | None) -> None:
        self.inp, self.check = inp, check
        self.n = min(docs, len(inp.payloads))
        self.replays = 0
        self.walls: list[float] = []
        self.doc_ms: list[list[float]] = [[] for _ in range(self.n)]

    def replay(self) -> float:
        """Extract every sampled document once; returns the wall in seconds."""
        inp, clock = self.inp, time.perf_counter_ns
        outs = []
        t_replay = clock()
        for i in range(self.n):
            t0 = clock()
            r = cx.extract_document(inp.payloads[i])
            text = cx.assemble_text(r.spans) if r.ok else None
            self.doc_ms[i].append((clock() - t0) / 1e6)
            outs.append((r.status, r.error_code, text))
        wall = (clock() - t_replay) / 1e9
        self.replays += 1
        self.walls.append(wall)
        if self.check is not None:
            for i, (status, code, text) in enumerate(outs):
                self.check.doc(inp.urls[i], inp.texts[i], inp.errors[i], status, code, text)
        return wall

    def best_ms(self) -> list[float]:
        """Each sampled document's fastest time over its replays, sorted.
        The fastest of a few repeats is what a neighbour on a shared host
        does not inflate (the ``timeit`` rule)."""
        return sorted(min(ms) for ms in self.doc_ms if ms)

    def mean_ms(self) -> float:
        """Mean over every timed extraction, all replays."""
        return sum(map(sum, self.doc_ms)) / max(1, self.n * self.replays)


def percentile(sorted_vals: list[float], q: float) -> float:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


# -- Spark passes ---------------------------------------------------------------


class SparkRun:
    """One workload's Spark side: sessions, timed passes and their records.

    A pass is one of
    - ``extract``: ``extract_docs_text``, collecting each document's url,
      status, error code and text digest;
    - ``commit``: ``run_extraction`` of the first half of the input files
      into an empty sink, which becomes the resume template;
    - ``resume``: ``run_extraction`` of every input file into a fresh copy
      of that template."""

    def __init__(self, inp, run_dir: str) -> None:
        self.inp, self.run_dir = inp, run_dir
        self.spark = None
        self.pages = None
        self.passes: list[dict] = []
        self.rss_mb = 0.0
        self.template = os.path.join(run_dir, "committed")
        self.last_rows = None
        self.last_sink = None
        self.last_end = 0.0

    def start(self) -> float:
        """Start a session and plan the input scan; returns the seconds."""
        from pdf_spark.session import spark_session

        t0 = time.perf_counter()
        self.spark = spark_session("perfbench", cores=nproc())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.pages = self.spark.read.parquet(*self.inp.files)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warmup_pages(self):
        """The first half of the input files plus one: the commit's files
        and one more."""
        return self.spark.read.parquet(*self.inp.files[: len(self.inp.files) // 2 + 1])

    def one_pass(self, label: str, job: str, pages=None) -> dict:
        """One timed pass of ``job`` ('extract', 'commit' or 'resume') over
        ``pages`` (an extract or resume pass; default every input file)."""
        from pyspark.sql import functions as F

        from pdf_spark.operators.extract import extract_docs_text
        from pdf_spark.operators.pipeline import run_extraction

        group = f"pass-{len(self.passes)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        if job == "resume":
            self.last_sink = os.path.join(self.run_dir, group)
            shutil.copytree(self.template, self.last_sink)
        if pages is None:
            pages = self.pages
        load0 = os.getloadavg()[0]
        t0 = time.perf_counter()
        if job == "extract":
            self.last_rows = extract_docs_text(pages).select(
                "url", "status", "error_code", F.sha2("text", 256).alias("digest")
            ).collect()
            docs = len(self.last_rows)
        else:
            if job == "commit":
                pages = self.spark.read.parquet(*self.inp.files[: len(self.inp.files) // 2])
                sink = self.template
            else:
                sink = self.last_sink
            summary = run_extraction(self.spark, pages, sink)
            docs = summary["n_ok"] + summary["n_err"]
        self.last_end = time.perf_counter()
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(s)
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        ]
        rec = {
            "label": label, "job": job, "wall_s": self.last_end - t0, "docs": docs,
            "loadavg_before": load0, "loadavg_after": os.getloadavg()[0],
            "tasks": sum(st.numTasks for st in stages if st is not None),
        }
        self.passes.append(rec)
        self.rss_mb = max(self.rss_mb, worker_peak_rss_mb())
        return rec

    def verify(self, check: Check, job: str) -> None:
        """Every output document against the ground truth, untimed: the rows
        of the last extract pass, or the last resume sink (committed half
        included). Texts are compared by SHA-256 digest."""
        from pyspark.sql import functions as F

        from pdf_spark.gen.corpus import expected_error_col

        if job == "resume":
            rows = self.spark.read.parquet(os.path.join(self.last_sink, "docs_text")).select(
                "url", "status", "error_code", F.sha2("text", 256).alias("digest")
            ).collect()
        else:
            rows = self.last_rows
        spark_err = {}
        # the generator encodes corrupt rows in crawl-shaped urls only
        if self.inp.meta["workload"] in ("crawl_mix", "job_resume"):
            spark_err = dict(
                self.pages.select("url", expected_error_col(F.col("url"))).collect()
            )
        check_rows(
            check, self.inp,
            [
                (r.url, r.status, r.error_code, r.digest, spark_err.get(r.url, "") if spark_err else None)
                for r in rows
            ],
        )


def run_end_to_end(w, inp, run_dir: str, seconds: float, check: Check) -> tuple[dict, dict]:
    """A session start that also launches the JVM, and the cold pass; then
    WARMUP_PASSES untimed passes and ``seconds`` of steady passes, at least
    MIN_PASSES; then SETUP_CYCLES session restarts. A serial replay runs
    before the JVM starts, after the cold pass, after each steady pass and
    after each restart, so every sampled document is timed at moments
    spread over the whole run.

    The first start is jvm_start_s. setup_s is the median of the session
    restarts in that JVM. The cold pass is the JVM's first job, paying JIT
    warm-up, Python-worker fork and imports; for the resume workload it is
    the commit of its template."""
    marks = [("start", time.perf_counter())]
    serial = Serial(inp, w.serial_docs, check)
    sr = SparkRun(inp, run_dir)
    restarts, steady = [], []
    try:
        serial.replay()
        jvm_start = sr.start()
        cold = sr.one_pass("cold", "commit" if w.kind == "resume" else w.kind)["wall_s"]
        serial.replay()
        marks.append(("cold", time.perf_counter()))
        warm = sr.warmup_pages()
        for _ in range(WARMUP_PASSES):
            sr.one_pass("warmup", w.kind, warm)
        marks.append(("warmup", time.perf_counter()))
        t_end = time.perf_counter() + seconds
        while len(steady) < MIN_PASSES or time.perf_counter() < t_end:
            steady.append(sr.one_pass("steady", w.kind)["wall_s"])
            serial.replay()
        marks.append(("window", time.perf_counter()))
        sr.verify(check, w.kind)
        marks.append(("verify", time.perf_counter()))
        while len(restarts) < SETUP_CYCLES:
            sr.stop()
            restarts.append(sr.start())
            serial.replay()
        marks.append(("restarts", time.perf_counter()))
    finally:
        sr.stop()
    marks.append(("stop", time.perf_counter()))
    best = serial.best_ms()
    docs = sr.passes[-1]["docs"]
    metrics = {
        "docs_per_s": (docs / statistics.median(steady), "docs/s"),
        "docs_per_s_serial": (len(best) * 1e3 / sum(best), "docs/s"),
        "doc_ms_p50": (percentile(best, 0.50), "ms"),
        "doc_ms_p99": (percentile(best, 0.99), "ms"),
        "cold_pass_s": (cold, "s"),
        "jvm_start_s": (jvm_start, "s"),
        "setup_s": (statistics.median(restarts), "s"),
        "worker_peak_rss_mb": (sr.rss_mb, "MB"),
    }
    detail = {
        "phase_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "docs_per_pass": docs,
        "jvm_start_s": jvm_start,
        "setup_s_samples": restarts,
        "passes": sr.passes,
        "serial": {
            "docs": serial.n,
            "replays": serial.replays,
            "replay_wall_s": serial.walls,
            "mean_ms_all_replays": serial.mean_ms(),
        },
    }
    return metrics, detail


def job_path_trace(sr: SparkRun) -> dict:
    """One resume pass with timers on the job path's layers: the anti-join
    set-up (``remaining_pages``, including its broadcast-size count job),
    the sink write (which also executes the join and the fused extraction)
    and everything after it (re-read, lineage write, status summary)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pdf_spark.operators import pipeline

    marks: dict = {}
    orig_remaining = pipeline.remaining_pages
    orig_parquet = DataFrameWriter.parquet

    def remaining(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig_remaining(*a, **k)
        finally:
            marks["antijoin_s"] = time.perf_counter() - t0

    def parquet(self, path, *a, **k):
        t0 = time.perf_counter()
        try:
            return orig_parquet(self, path, *a, **k)
        finally:
            if os.path.basename(os.path.normpath(path)) == "docs_text":
                marks["sink_end"] = time.perf_counter()
                marks["sink_write_s"] = marks["sink_end"] - t0

    pipeline.remaining_pages = remaining
    DataFrameWriter.parquet = parquet
    try:
        rec = sr.one_pass("trace", "resume")
    finally:
        pipeline.remaining_pages = orig_remaining
        DataFrameWriter.parquet = orig_parquet
    return {
        "antijoin_s": marks["antijoin_s"],
        "sink_write_s": marks["sink_write_s"],
        "after_sink_s": sr.last_end - marks["sink_end"],
        "new_docs": rec["docs"],
        "wall_s": rec["wall_s"],
    }


def run_traced(w, inp, run_dir: str, seconds: float, check: Check) -> tuple[dict, dict]:
    """Untraced then traced serial replay of every document, extraction
    passes for the Spark-side ratios, and one traced resume pass after
    WARMUP_PASSES untimed ones."""
    n = len(inp.urls)
    Serial(inp, w.serial_docs, None).replay()  # warm caches, untimed
    untraced = Serial(inp, n, None)
    wall_u = untraced.replay()
    tracer = spans.Tracer()
    with tracer.patched():
        wall_t = Serial(inp, n, check).replay()
    serial_ms = untraced.mean_ms()

    sr = SparkRun(inp, run_dir)
    try:
        sr.start()
        arrow_rows = int(sr.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        sr.one_pass("cold", "extract")
        walls = [sr.one_pass("steady", "extract")["wall_s"] for _ in range(TRACE_PASSES)]
        tasks = sr.passes[-1]["tasks"]
        sr.one_pass("commit", "commit")
        warm = sr.warmup_pages()
        for _ in range(WARMUP_PASSES):
            sr.one_pass("warmup", "resume", warm)
        job = job_path_trace(sr)
        sr.verify(check, "resume")
    finally:
        sr.stop()

    cores = nproc()
    wall = statistics.median(walls)
    stat = tracer.layers
    load_calls = tracer.calls["pdf_spark.core.interp:load_font"]
    misses = tracer.calls["pdf_spark.core.fonts:_load_font_uncached"]
    layer_sum_ms = sum(tracer.self_ms(name) for name in spans.LAYERS)
    metrics = {
        "route.ms_per_doc": (tracer.self_ms("route") / n, "ms/doc"),
        "xref.ms_per_doc": (tracer.self_ms("xref") / n, "ms/doc"),
        "resolve.ms_per_doc": (tracer.self_ms("resolve") / n, "ms/doc"),
        "resolve.calls_per_doc": (tracer.calls["pdf_spark.core.document:Resolver.resolve_ref"] / n, "calls/doc"),
        "filters.ms_per_doc": (tracer.self_ms("filters") / n, "ms/doc"),
        "filters.bytes_out_per_doc": (stat["filters"].work / n, "bytes/doc"),
        "tokenize.ms_per_doc": (tracer.self_ms("tokenize") / n, "ms/doc"),
        "tokenize.ops_per_doc": (stat["tokenize"].work / n, "ops/doc"),
        "interp.self_ms_per_doc": (tracer.self_ms("interp") / n, "ms/doc"),
        "interp.spans_per_doc": (stat["interp"].work / n, "spans/doc"),
        "font_load.ms_per_doc": (tracer.self_ms("font_load") / n, "ms/doc"),
        "font_load.calls_per_doc": (load_calls / n, "calls/doc"),
        "font_cache.hit_ratio": ((load_calls - misses) / max(1, load_calls), "ratio"),
        "assemble.ms_per_doc": (tracer.self_ms("assemble") / n, "ms/doc"),
        "html.ms_per_doc": (tracer.self_ms("html") / n, "ms/doc"),
        "extract.spark_overhead_ms_per_doc": (wall * 1e3 * cores / n - serial_ms, "ms/doc"),
        "extract.parallel_efficiency": ((n / wall) / (cores * 1e3 / serial_ms), "ratio"),
        "extract.arrow_batch_rows": (arrow_rows, "rows"),
        "resume.antijoin_s": (job["antijoin_s"], "s"),
        "resume.skipped_ratio": (1 - job["new_docs"] / n, "ratio"),
        "sink.write_s": (job["sink_write_s"], "s"),
        "lineage.s": (job["after_sink_s"], "s"),
        "trace.layer_sum_coverage": (layer_sum_ms / (wall_t * 1e3), "ratio"),
        "trace.overhead_ratio": (wall_t / wall_u, "ratio"),
    }
    detail = {
        "bases": {
            "docs": n,
            "cores": cores,
            "resolve_calls": tracer.calls["pdf_spark.core.document:Resolver.resolve_ref"],
            "filters_bytes_out": stat["filters"].work,
            "font_load_calls": load_calls,
            "font_cache_misses": misses,
            "layer_sum_ms": layer_sum_ms,
            "serial_traced_wall_s": wall_t,
            "serial_untraced_wall_s": wall_u,
            "serial_ms_per_doc": serial_ms,
            "spark_pass_wall_s": wall,
            "spark_pass_tasks": tasks,
            "job_new_docs": job["new_docs"],
        },
        "unattributed_ms_per_doc": tracer.self_ms("doc") / n,
        "calls": tracer.calls,
        "passes": sr.passes,
        "job": job,
    }
    return metrics, detail


def run_one(name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> tuple[dict, bool]:
    """Run one workload under ``run_dir``; returns (result object, correct)."""
    w = workloads.WORKLOADS[name]
    inp = workloads.load_or_build(w, seed, FILES_PER_CORE * nproc(), os.path.join(WORK, "inputs"))
    # Every input file its own split, through session.py's own knob; read
    # by each session start. Left to the 64m default, Spark packs inputs
    # this small into nproc splits, and one straggler split sets the wall.
    os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = str(
        max(os.path.getsize(f) for f in inp.files)
    )
    work = os.path.join(run_dir, name)
    env = environment()
    check = Check()
    try:
        run = run_traced if trace else run_end_to_end
        metrics, detail = run(w, inp, work, seconds, check)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = list(os.getloadavg())
    print(json.dumps({
        "workload": name, "seed": seed, "trace": trace, "environment": env,
        "inputs": inp.meta, "check": check.summary(), "detail": detail,
    }))
    result = {
        "correct": check.ok,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, check.ok


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway JVM
    exits when its stdin closes, which otherwise happens only as this
    process dies, leaving the JVM running a moment longer."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    all_ok = True
    try:
        for name in names:
            result, ok = run_one(name, args.seed, args.seconds, bool(args.trace), run_dir)
            if len(names) > 1:
                result = {"workload": name, **result}
            print(json.dumps(result), flush=True)
            all_ok = all_ok and ok
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
