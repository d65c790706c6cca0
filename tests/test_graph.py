"""F1 node→record conversion (`operators/graph.node_attributes_long`) and
the histogram path it feeds (`operators/concepts.concept_stats`)."""

from __future__ import annotations

import math

from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    concept_stats,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.graph import (
    node_attributes_long,
)


def _nodes(spark):
    return spark.createDataFrame(
        [
            ("n1", ["Entity", "Person", "Person"], {"color": "red"}, {"age": 30.0}),
            ("n2", ["Entity"], {"color": "blue"}, {"age": 50.0}),
            ("n3", ["Person", "Entity"], {}, {}),
        ],
        "id string, labels array<string>, props map<string,string>, "
        "num_props map<string,double>",
    )


def test_node_attributes_long_rows_and_types(spark):
    """Labels take set semantics, props become 'nom' rows and num_props
    'num' rows, each with the opposite value column null and typed."""
    attrs = node_attributes_long(_nodes(spark))
    assert dict(attrs.dtypes) == {
        "instance_id": "string",
        "attr": "string",
        "kind": "string",
        "nom_value": "string",
        "num_value": "double",
    }
    got = sorted(map(tuple, attrs.collect()), key=repr)
    want = sorted(
        [
            ("n1", "Labels", "nom", "Entity", None),
            ("n1", "Labels", "nom", "Person", None),
            ("n1", "color", "nom", "red", None),
            ("n1", "age", "num", None, 30.0),
            ("n2", "Labels", "nom", "Entity", None),
            ("n2", "color", "nom", "blue", None),
            ("n2", "age", "num", None, 50.0),
            ("n3", "Labels", "nom", "Person", None),
            ("n3", "Labels", "nom", "Entity", None),
        ],
        key=repr,
    )
    assert got == want  # a list: the duplicate "Person" label appears once


def test_node_attributes_drive_concept_histograms(spark):
    """The long form routes through assignments and the closure into the
    per-concept histograms and Gaussians."""
    assignments = spark.createDataFrame(
        [("n1", "X"), ("n2", "X"), ("n3", "Y")], "instance_id string, concept_id string"
    )
    closure = spark.createDataFrame(
        [("X", "X"), ("Y", "Y"), ("X", "R"), ("Y", "R"), ("R", "R")],
        "desc string, anc string",
    )
    stats = concept_stats(node_attributes_long(_nodes(spark)), assignments, closure)
    noms = {
        (r["concept_id"], r["attr"], r["nom_value"]): r["cnt"]
        for r in stats.where("kind = 'nom'").collect()
    }
    assert noms == {
        ("R", "Labels", "Entity"): 3,
        ("R", "Labels", "Person"): 2,
        ("R", "color", "red"): 1,
        ("R", "color", "blue"): 1,
        ("X", "Labels", "Entity"): 2,
        ("X", "Labels", "Person"): 1,
        ("X", "color", "red"): 1,
        ("X", "color", "blue"): 1,
        ("Y", "Labels", "Entity"): 1,
        ("Y", "Labels", "Person"): 1,
    }
    nums = {
        (r["concept_id"], r["attr"]): (r["num_count"], r["num_mean"], r["num_std"])
        for r in stats.where("kind = 'num'").collect()
    }
    assert set(nums) == {("R", "age"), ("X", "age")}
    for n, mean, std in nums.values():
        assert n == 2 and math.isclose(mean, 40.0) and math.isclose(std, 10.0)
