"""Topology-dependent session confs (round-11 cluster probe).

The multi-JVM probe (tools/cluster_probe.py) found the one genuinely
cluster-only deployment bug this repo had: executor Python workers
run from the executor work dir, so the source checkout is not
importable there — every mapInPandas closure that references a
conveyor_spark module by name dies with ModuleNotFoundError on a
real cluster while local[N] (workers inherit the driver's cwd)
stays green. These tests pin the fix's logic without needing to
boot a second cluster inside the shared-session test suite."""

from __future__ import annotations

import os

import pytest

from conveyor_spark.session import _topology_conf, local_cpus


def test_multi_jvm_masters_get_executor_pythonpath(monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXECUTOR_MEM", raising=False)
    for master in ("local-cluster[2,16,4096]", "spark://host:7077"):
        conf = _topology_conf(master)
        path = conf["spark.executorEnv.PYTHONPATH"]
        # the repo root (the dir containing conveyor_spark/) must be
        # importable on executor workers
        assert os.path.isdir(os.path.join(path, "conveyor_spark")), master


def test_executor_pythonpath_prepends_not_replaces(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "/some/user/libs")
    conf = _topology_conf("local-cluster[2,16,4096]")
    path = conf["spark.executorEnv.PYTHONPATH"]
    assert path.endswith(":/some/user/libs")
    assert os.path.isdir(os.path.join(path.split(":")[0], "conveyor_spark"))


def test_local_masters_left_alone(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_EXECUTOR_MEM", raising=False)
    # local[N] workers inherit the driver env/cwd; injecting an
    # executorEnv there would be dead config
    assert _topology_conf("local[32]") == {}
    assert _topology_conf("") == {}


def test_executor_memory_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXECUTOR_MEM", "3g")
    conf = _topology_conf("local-cluster[2,16,4096]")
    assert conf["spark.executor.memory"] == "3g"


def test_local_cpus_default_is_the_usable_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert local_cpus() == 7


@pytest.mark.parametrize("bad", ["", "0", "-2", "four", "2.5", "32x"])
def test_local_cpus_rejects_a_non_positive_integer(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        local_cpus()
