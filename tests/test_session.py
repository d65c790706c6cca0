"""Session defaults fit the host they run on."""

from __future__ import annotations

import os

from concept_hierarchy_formation_in_property_graphs_spark.session import (
    HEAP_HEADROOM_GIB,
    default_cpus,
    driver_memory_gib,
    usable_memory_bytes,
)


def test_default_cpus_reads_env_when_set(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_is_the_host_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


GIB = 2**30


def test_driver_memory_scales_with_cpus_on_a_large_host():
    assert driver_memory_gib(4, 256 * GIB) == 16
    assert driver_memory_gib(32, 256 * GIB) == 64


def test_driver_memory_leaves_headroom_on_a_small_host():
    # a 15.7 GiB host with no swap: the old max(16, 2·cpus) rule asked for
    # more heap than the host has
    assert driver_memory_gib(4, int(15.7 * GIB)) == 15 - HEAP_HEADROOM_GIB
    assert driver_memory_gib(32, 20 * GIB) == 20 - HEAP_HEADROOM_GIB
    assert driver_memory_gib(8, 2 * GIB) == 1


def test_usable_memory_is_at_most_physical_memory():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < usable_memory_bytes() <= physical
