import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_DATA = "/root/reference/spec/data"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("rdf-tabular-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """→ ``count_jobs()``: a context manager whose value's ``n`` is, on
    exit, the number of Spark jobs run inside the block. The block runs
    under a job group of its own, and its job ids are read back with
    ``statusTracker().getJobIdsForGroup`` once the listener bus has
    delivered every job event."""
    @contextlib.contextmanager
    def counting():
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        box = types.SimpleNamespace(n=None)
        try:
            yield box
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            box.n = len(sc.statusTracker().getJobIdsForGroup(group))
    return counting
