"""Session defaults."""

import os

from photon_spark.session import default_cpus


def test_default_cpus_is_the_env_override_else_the_usable_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    usable = len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == usable
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == usable
