"""The benchmark's own tests: smoke sizes of every workload, the
correctness gate, and the traced run leaving pdf_spark unpatched.

Run from the repository root::

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import os
import random

import pytest

import run
import spans
import workloads

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")
SMOKE_DOCS = {"crawl_mix": 650, "long_pdf": 8, "html_only": 70, "job_resume": 650}


@pytest.fixture()
def smoke(monkeypatch):
    """Shrink every workload to a seconds-long size."""
    for name, w in workloads.WORKLOADS.items():
        monkeypatch.setitem(
            workloads.WORKLOADS, name,
            dataclasses.replace(w, docs=SMOKE_DOCS[name], serial_docs=min(w.serial_docs, SMOKE_DOCS[name])),
        )


def _names(section: str) -> set[str]:
    with open(BENCHMARK) as fh:
        return {m["name"] for m in json.load(fh)[section]}


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_every_workload_reports_every_metric(smoke, capsys, trace, section):
    argv = ["--workload", "all", "--seed", "7", "--seconds", "0.2", "--trace", str(trace)]
    assert run.main(argv) == 0
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    results = {r["workload"]: r for r in lines if "metrics" in r}
    assert set(results) == set(workloads.WORKLOADS)
    want = _names(section)
    for name, result in results.items():
        assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
        assert set(result["metrics"]) == want, name
        for metric in result["metrics"].values():
            assert isinstance(metric["value"], (int, float)) and metric["unit"]


def _crawl_inputs():
    w = dataclasses.replace(workloads.WORKLOADS["crawl_mix"], docs=130)
    return workloads.load_or_build(w, 3, 2, os.path.join(run.WORK, "inputs"))


def test_gate_fails_when_one_expected_text_is_perturbed():
    inp = _crawl_inputs()
    clean = run.Check()
    run.Serial(inp, len(inp.urls), clean).replay()
    assert clean.ok and clean.wrong_text == 0

    good = next(i for i, t in enumerate(inp.texts) if t)
    inp.texts[good] += "x"
    check = run.Check()
    run.Serial(inp, len(inp.urls), check).replay()
    assert not check.ok
    assert check.wrong_text == 1
    assert check.summary()["wrong_text_ratio"] == pytest.approx(1 / check.good)


def test_gate_counts_lost_and_duplicated_urls():
    inp = _crawl_inputs()
    rows = [(u, "ok", "", run.sha256_hex(t), None) for u, t in zip(inp.urls, inp.texts) if t]
    bad = [(u, "error", e, None, None) for u, t, e in zip(inp.urls, inp.texts, inp.errors) if not t]
    check = run.Check()
    run.check_rows(check, inp, rows + bad)
    assert check.ok
    check = run.Check()
    run.check_rows(check, inp, rows[1:] + bad + rows[-1:])
    assert check.failed == 2  # one url lost, one duplicated
    assert not check.ok


def test_run_exits_nonzero_on_a_perturbed_expectation(smoke, monkeypatch):
    real = workloads.load_or_build

    def perturbed(*a, **k):
        inp = real(*a, **k)
        inp.texts[1] += "x"
        return inp

    monkeypatch.setattr(workloads, "load_or_build", perturbed)
    assert run.main(["--workload", "html_only", "--seed", "7", "--seconds", "0.2"]) == 1


def _current(mod_name: str, path: str):
    owner = importlib.import_module(mod_name)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner.__dict__[attr]


def test_traced_run_leaves_pdf_spark_unpatched():
    before = {(m, p): _current(m, p) for m, p, _, _ in spans.LAYER_POINTS}
    inp = _crawl_inputs()
    tracer = spans.Tracer()
    with tracer.patched():
        for key, original in before.items():
            assert _current(*key) is not original, key
        run.Serial(inp, len(inp.urls), None).replay()
    for key, original in before.items():
        assert _current(*key) is original, key
    assert tracer.layers["resolve"].calls > 0 and tracer.self_ms("tokenize") > 0


def test_inputs_are_seeded_and_cached():
    w = dataclasses.replace(workloads.WORKLOADS["html_only"], docs=14)
    root = os.path.join(run.WORK, "inputs")
    a = workloads.load_or_build(w, 5, 2, root)
    b = workloads.load_or_build(w, 5, 2, root)
    c = workloads.load_or_build(w, 6, 2, root)
    assert a.payloads == b.payloads and a.texts == b.texts
    assert a.texts != c.texts
    assert f"v{workloads.N_VARIANTS}" in workloads.cache_key(w, 5, 2)


def test_texts_are_drawn_from_the_sf001_sample():
    sample = set(workloads.SF_TEXTS)
    assert len(workloads.SF_TEXTS) == 500
    rng = random.Random(1)
    assert sample.issuperset(workloads.seeded_texts(rng, 50))
    page = workloads.page_text(rng)
    assert len(page) >= workloads.LONG_PDF_PAGE_CHARS
    assert any(page.startswith(t + " ") for t in sample)
