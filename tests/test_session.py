"""The session factory's core-count default (no session is started)."""

import os

import pytest

from pears_lite_spark.session import default_cpus


@pytest.mark.parametrize("env", [None, ""])
def test_default_cpus_unset_is_the_affinity_count(monkeypatch, env):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_honours_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
