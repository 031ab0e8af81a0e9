from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class JobCount:
    """``with count_jobs() as jobs: ...`` — afterwards ``jobs.n`` is
    the number of Spark jobs the block submitted from this thread. The
    block runs under a fresh job group and restores the caller's on
    exit, so blocks nest: an inner block's jobs count there only."""

    _ids = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def __enter__(self):
        self.prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.group = f"test-jobs-{next(self._ids)}"
        self.sc.setLocalProperty("spark.jobGroup.id", self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", self.prev)
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        return False


@pytest.fixture
def count_jobs(spark):
    return lambda: JobCount(spark)
