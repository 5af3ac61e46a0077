import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from pdf_spark.session import spark_session

    from pyspark import SparkContext

    s = spark_session(app="pdf-spark-tests", cores=4)
    yield s
    # perfbench's tests end the JVM themselves (run.stop_jvm) when both
    # suites run in one process; there is nothing left to stop then
    if SparkContext._gateway is not None:
        s.stop()


@pytest.fixture()
def tmp_out():
    d = tempfile.mkdtemp(prefix="pdfspark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
