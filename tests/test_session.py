"""Local-mode core count resolution (starts no Spark session)."""

from __future__ import annotations

import os

from dotnetvectorsearch_spark.session import local_cpus


def test_local_cpus_is_the_usable_cores_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
