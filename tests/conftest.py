from __future__ import annotations

import os
import sys
import uuid

import pytest

# the checkout this conftest sits in, so each checkout tests its own library
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from light_splade_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lss-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture
def spark_jobs(spark):
    """probe(fn) -> (fn(), ids of the Spark jobs fn ran), probed through a
    job group unique to each call."""
    sc = spark.sparkContext

    def probe(fn):
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return probe
