from __future__ import annotations

import contextlib
import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dotnetvectorsearch_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_launched(spark):
    """``jobs_launched(fn)``: the Spark job ids launched while ``fn``
    runs, via a private job group."""
    groups = itertools.count()

    def launched(fn) -> list[int]:
        sc = spark.sparkContext
        group = f"jobs-{next(groups)}"
        sc.setJobGroup(group, "counted")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))
    return launched


@pytest.fixture(scope="session")
def force_distributed():
    """``with force_distributed(): ...`` runs its body with the shared
    driver byte bound at 0, so every bounded driver gate takes its
    distributed path (parity tests compare the two)."""
    from dotnetvectorsearch_spark import localdf

    @contextlib.contextmanager
    def forced():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(localdf, "DRIVER_BYTES", 0)
            yield
    return forced
