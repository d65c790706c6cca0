from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    s = get_spark(app_name="chf-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
