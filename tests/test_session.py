"""Session defaults fit the host they run on."""

from __future__ import annotations

import os

from concept_hierarchy_formation_in_property_graphs_spark.session import default_cpus


def test_default_cpus_reads_env_when_set(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_is_the_host_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
