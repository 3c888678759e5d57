from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ytsaurus_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def rows_set(df):
    """Order-insensitive row tuples."""
    return {tuple(r) for r in df.collect()}


def jobs_started(spark, fn) -> int:
    """Spark jobs the scheduler started while ``fn`` ran, on any thread:
    the DAG scheduler's job-id counter, which every job and map-stage
    submission advances synchronously."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    fn()
    return dag.nextJobId() - first
