"""tools/scaling.py: the efficiency formula and one in-process pipeline
level (the subprocess driver itself needs a fresh JVM per level)."""

from __future__ import annotations

import importlib.util
import os

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


def test_pipeline_level_record(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
        pages_spark_df,
    )

    pages = pages_spark_df(spark, 200, n_entities=scaling.N_ENTITIES)
    rec = scaling.pipeline_level(spark, pages)
    assert set(rec) == {"cpus", "items", "triples", "wall_s", "items_per_s"}
    assert rec["cpus"] == spark.sparkContext.defaultParallelism
    assert rec["items"] == 200 and rec["triples"] > 0
    assert rec["wall_s"] > 0
    assert rec["items_per_s"] == pytest.approx(200 / rec["wall_s"], rel=0.01)
