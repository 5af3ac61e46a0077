"""The deployment path: ``scripts/submit.sh`` runs the job through
``spark-submit --py-files`` with the settings of ``session.job_conf``,
extracts what the in-process pipeline extracts, and resumes."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from pdf_spark.gen.corpus import rows_for_texts
from pdf_spark.operators.extract import extract_docs_text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def _submit(pages: str, out: str, env: dict, *args: str) -> dict:
    proc = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "submit.sh"),
         "--pages", pages, "--out", out, *args],
        env=env, cwd=os.path.dirname(out), capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _spark_properties(event_log: str) -> dict:
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerEnvironmentUpdate":
                return dict(ev["Spark Properties"])
    raise AssertionError(f"no environment update in {event_log}")


def test_submit_runs_the_job_settings_and_resumes(spark, tmp_path):
    # the generator corrupts docs 13 and 77 (every 64th from 13)
    texts = [f"submitted doc {i} with a few words" for i in range(96)]
    pages = str(tmp_path / "pages")
    spark.createDataFrame(pd.DataFrame(rows_for_texts(texts))).repartition(
        2
    ).write.parquet(pages)
    assert len([f for f in os.listdir(pages) if f.endswith(".parquet")]) == 2

    # the event log carries the settings the job's SparkContext started
    # with; a submitter's value for one of the job's own keys must lose
    conf_dir, events = tmp_path / "conf", tmp_path / "events"
    conf_dir.mkdir()
    events.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n"
        f"spark.eventLog.dir {events.as_uri()}\n"
        "spark.eventLog.compress false\n"
        "spark.eventLog.rolling.enabled false\n"
        "spark.driver.memory 1g\n"
        "spark.ui.enabled false\n"
        "spark.sql.autoBroadcastJoinThreshold 10m\n"
    )
    env = dict(os.environ, MASTER="local[2]", SPARK_CONF_DIR=str(conf_dir),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    out = str(tmp_path / "sink")
    # the text sinks read only this run's docs_text directory
    sinks = ("--wet-out", str(tmp_path / "wet"), "--jsonl-out", str(tmp_path / "jsonl"))

    first = _submit(pages, out, env, *sinks)
    want = extract_docs_text(spark.read.parquet(pages)).select("url", "text", "status")
    got = spark.read.parquet(first["docs_path"]).select("url", "text", "status")
    assert first["n_ok"] + first["n_err"] == len(texts)
    assert first["n_err"] == want.where("status = 'error'").count() > 0
    assert sorted(got.collect()) == sorted(want.collect())
    assert first["wet_records"] == first["jsonl_records"] == first["n_ok"]

    # a resumed run extracts nothing, so it has no run directory to read
    second = _submit(pages, out, env, *sinks)
    assert second["n_ok"] + second["n_err"] == 0
    assert "wet_records" not in second and "jsonl_records" not in second

    logs = sorted(events.iterdir())
    assert len(logs) == 2
    for log in logs:
        props = _spark_properties(str(log))
        assert props.get("spark.master") == "local[2]"
        assert props.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "64"
        assert props.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
        assert props.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
        assert props.get("spark.sql.files.maxPartitionBytes") == "64m"
