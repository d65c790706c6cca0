"""tools/scaling.py: the efficiency formula, the pinned/per-stage summary,
core pinning in a child process and one in-process pipeline level (the
subprocess driver itself needs a fresh JVM per level)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "scaling.py")
_spec = importlib.util.spec_from_file_location("scaling_tool", _PATH)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def test_efficiency_is_ideal_speedup_fraction():
    # perfect N -> 4N scaling: a quarter of the time
    assert scaling.efficiency(400.0, 1, 100.0, 4) == pytest.approx(1.0)
    # 344.4 s at local[1] vs 112.2 s at local[4]: 3.07x of an ideal 4x
    assert scaling.efficiency(344.4, 1, 112.2, 4) == pytest.approx(0.767, abs=1e-3)
    # lo need not be 1: 2 -> 8 at 3x faster
    assert scaling.efficiency(300.0, 2, 100.0, 8) == pytest.approx(0.75)


def test_summary_totals_and_per_stage_efficiency():
    lo = {"wall_s": 400.0, "stages": {"s1_text": 200.0, "s3_links": 0.0, "s6_concepts": 10.0}}
    hi = {"wall_s": 125.0, "stages": {"s1_text": 50.0, "s3_links": 0.5, "s6_concepts": 10.0}}
    got = scaling.summarize(lo, 2, hi, 8)
    assert got["lo"] is lo and got["hi"] is hi
    assert got["efficiency"] == 0.8
    # a stage that took 0 s at either level has no ratio
    assert got["stage_efficiency"] == {"s1_text": 1.0, "s6_concepts": 0.25}


def test_pin_to_restricts_the_process_and_its_children():
    code = (
        "import importlib.util, os, subprocess, sys\n"
        f"spec = importlib.util.spec_from_file_location('s', {_PATH!r})\n"
        "m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)\n"
        "m.pin_to(1)\n"
        "child = subprocess.run([sys.executable, '-c', "
        "'import os; print(len(os.sched_getaffinity(0)))'], "
        "capture_output=True, text=True, check=True).stdout.strip()\n"
        "print(len(os.sched_getaffinity(0)), child)\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, timeout=60).stdout.split()
    assert out == ["1", "1"]


def test_pipeline_level_record(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
        pages_spark_df,
    )

    pages = pages_spark_df(spark, 200, n_entities=scaling.N_ENTITIES)
    rec = scaling.pipeline_level(spark, pages)
    assert set(rec) == {"cpus", "affinity", "items", "triples", "wall_s",
                        "items_per_s", "stages"}
    assert rec["cpus"] == spark.sparkContext.defaultParallelism
    assert rec["affinity"] == len(os.sched_getaffinity(0))
    assert list(rec["stages"]) == [
        "s1_text", "s2_mentions", "s3_links", "s3_triples", "s4_nodes",
        "s4_edges", "s5_struct_features", "s5_char_sets", "s6_concepts",
        "s6_assignments",
    ]
    assert sum(rec["stages"].values()) <= rec["wall_s"]
    assert rec["items"] == 200 and rec["triples"] > 0
    assert rec["wall_s"] > 0
    assert rec["items_per_s"] == pytest.approx(200 / rec["wall_s"], rel=0.01)
