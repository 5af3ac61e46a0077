"""task_prologue: the per-task worker prologue every Python UDF body runs.

The prologue drops cached zipimporters and freezes the heap, but only
inside a Spark task. Each test unfreezes in teardown so no frozen heap
leaks into later test modules.
"""

import gc
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import TaskContext
from pyspark.sql.types import LongType, StructField, StructType

from pdf_spark.core.extract import assemble_text, extract_document
from pdf_spark.functions.tables import map_rows
from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators.extract import extract_docs_text
from pdf_spark.session import task_prologue


@pytest.fixture(autouse=True)
def unfreeze():
    yield
    gc.unfreeze()


@pytest.fixture()
def in_task(monkeypatch):
    """A TaskContext as the worker sets it before calling a UDF body."""
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))


@pytest.fixture()
def zip_on_path(tmp_path):
    """A zip holding two modules, first on sys.path; the first is imported,
    so a zipimporter for the archive sits in sys.path_importer_cache."""
    archive = str(tmp_path / "prologue_mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("prologue_zip_a.py", "VALUE = 'a'\n")
        zf.writestr("prologue_zip_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    importlib.import_module("prologue_zip_a")
    assert isinstance(sys.path_importer_cache.get(archive), zipimport.zipimporter)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("prologue_zip_a", "prologue_zip_b"):
        sys.modules.pop(name, None)


def _zipimporters() -> list:
    return [
        path
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


def test_prologue_drops_zipimporters_and_zip_still_imports(in_task, zip_on_path):
    task_prologue()
    assert _zipimporters() == []
    importlib.invalidate_caches()  # what the worker does at the next task
    assert importlib.import_module("prologue_zip_b").VALUE == "b"
    assert isinstance(
        sys.path_importer_cache.get(zip_on_path), zipimport.zipimporter
    )


_SIMULATED_TASKS = """
import gc, json
from pyspark import TaskContext
from pdf_spark.session import task_prologue
TaskContext._setTaskContext(object.__new__(TaskContext))
counts = []
for _ in range(50):
    task_prologue()
    counts.append(gc.get_freeze_count())
    node = {}
    node["self"] = [node, {"peer": node}]
    del node
    gc.collect()  # the daemon's reuse loop, after every task
print(json.dumps(counts))
"""


def test_freeze_count_plateaus_over_simulated_tasks():
    """Run in a fresh single-threaded process, as a worker is: this test
    process's Spark gateway threads allocate and free objects of their own
    between prologues."""
    out = subprocess.run(
        [sys.executable, "-c", _SIMULATED_TASKS],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120, check=True,
    )
    counts = json.loads(out.stdout.splitlines()[-1])
    assert counts[0] > 0
    assert counts[1:] == [counts[1]] * 49, counts[:5]


class _Node:
    """A weak-referenceable object to build cyclic garbage from."""


def test_prologue_runs_once_per_task_attempt(monkeypatch):
    """A body Spark calls once per group (``applyInPandasWithState``) runs
    the prologue on every call; only the first call of an attempt may
    freeze, or the garbage of earlier groups would be frozen for good."""
    import weakref

    ctx = object.__new__(TaskContext)
    ctx._taskAttemptId = 7
    monkeypatch.setattr(TaskContext, "_taskContext", ctx)
    task_prologue()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    node = _Node()
    node.cycle = [node]
    probe = weakref.ref(node)
    del node
    task_prologue()  # the next group of the same task attempt
    assert gc.get_freeze_count() == frozen
    gc.collect()
    assert probe() is None
    ctx._taskAttemptId = 8  # the worker's next task
    task_prologue()
    assert gc.get_freeze_count() >= frozen


_SIMULATED_GROUPED_TASKS = """
import gc, json
from pyspark import TaskContext
from pdf_spark.session import task_prologue
counts = []
for attempt in range(30):
    ctx = object.__new__(TaskContext)
    ctx._taskAttemptId = attempt
    TaskContext._setTaskContext(ctx)
    for _ in range(4):  # four groups of one grouped-state task
        task_prologue()
        node = {}
        node["self"] = [node, {"peer": node}]
        del node
    TaskContext._setTaskContext(None)
    gc.collect()  # the daemon's reuse loop, after every task
    counts.append(gc.get_freeze_count())
print(json.dumps(counts))
"""


def test_freeze_count_plateaus_over_grouped_tasks():
    out = subprocess.run(
        [sys.executable, "-c", _SIMULATED_GROUPED_TASKS],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120, check=True,
    )
    counts = json.loads(out.stdout.splitlines()[-1])
    assert counts[0] > 0
    assert counts[1:] == [counts[1]] * 29, counts[:5]


def test_prologue_outside_task_is_noop(zip_on_path):
    assert TaskContext.get() is None
    before = gc.get_freeze_count()
    task_prologue()
    assert gc.get_freeze_count() == before
    assert zip_on_path in _zipimporters()


TEXTS = [f"Prologue document {i} with a line of plain words." for i in range(96)]


def test_reused_workers_extract_identical_rows(spark):
    rows = rows_for_texts(TEXTS)
    pages = spark.createDataFrame(pd.DataFrame(rows)).repartition(8)
    first = sorted(tuple(r) for r in extract_docs_text(pages).collect())
    second = sorted(tuple(r) for r in extract_docs_text(pages).collect())
    assert first == second
    expected = {}
    for row in rows:
        r = extract_document(row["html"])
        expected[row["url"]] = assemble_text(r.spans) if r.ok else None
    assert {url: text for url, text, *_ in first} == expected


def test_map_rows_body_runs_prologue_in_worker(spark):
    def probe(_):
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        return [{"frozen": gc.get_freeze_count(), "zips": len(zips)}]

    schema = StructType(
        [StructField("frozen", LongType()), StructField("zips", LongType())]
    )
    df = spark.range(8).repartition(4)
    for _ in range(2):  # a fresh and a reused worker
        out = map_rows(df, probe, schema).collect()
        assert len(out) == 8
        assert all(r["frozen"] > 0 and r["zips"] == 0 for r in out)


_UDF_METHODS = ("mapInPandas", "mapInArrow")


def _udf_bodies():
    """(file, line, FunctionDef) of every function a module under
    ``pdf_spark/`` passes to ``mapInPandas``/``mapInArrow``/
    ``applyInPandas*``, resolved in the scope of the call (None when it
    is not defined there)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pdf_spark"
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        scopes = [tree] + [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope in scopes:
            defs = {
                n.name: n for n in scope.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
            calls = [
                n for stmt in scope.body for n in ast.walk(stmt)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and (n.func.attr in _UDF_METHODS or n.func.attr.startswith("applyInPandas"))
            ]
            for call in calls:
                if not call.args:
                    continue
                fn = call.args[0]
                assert isinstance(fn, ast.Name), (path.name, call.lineno)
                yield path.name, call.lineno, defs.get(fn.id)


def test_every_udf_body_opens_with_prologue():
    import ast

    bodies = {(f, line): d for f, line, d in _udf_bodies()}
    files = {f for f, _ in bodies}
    assert {"extract.py", "tables.py", "relational.py", "corpus.py",
            "warc.py"} <= files, files
    for (f, line), fn in bodies.items():
        assert fn is not None, f"{f}:{line}: UDF body not defined in the calling scope"
        first = fn.body[0]
        assert (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Call)
            and isinstance(first.value.func, ast.Name)
            and first.value.func.id == "task_prologue"
        ), f"{f}:{line} passes {fn.name}, which does not open with task_prologue()"
