"""The reference's core benchmark: recover a planted width^depth taxonomy
from stacked hierarchical label sets (`SyntheticNodeGenerator.java:30-66`,
survey sweep `clustering_survey.py:119-129`), scored by structural P/R on
parent-child edges (the JVM-free stand-in for the apted.jar TED scoring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.synthetic_labels import (
    generate_labels,
    labels_spark_df,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    build_hierarchy,
    invariant_violations,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.export import (
    edge_precision_recall,
    hierarchy_edge_sets,
    to_bracket,
    tree_edit_distance,
)


def _name_expr():
    # name a concept by its most specific intent item (the deepest planted
    # label), the root by 'l'
    return F.coalesce(F.try_element_at(F.col("intent"), F.lit(-1)), F.lit("l"))


def test_recovers_planted_taxonomy_noise_free(spark):
    df = labels_spark_df(spark, width=3, depth=3, iterations=2, noise=0.0)
    h = build_hierarchy(
        df.select(F.col("id").alias("instance_id"), F.col("labels").alias("intent")),
        galois=True,
    )
    _, truth_edges, _ = generate_labels(3, 3, 2, 0.0)
    # drop residual leaves from the comparison: truth has no residuals
    concepts = h["concepts"].where(~F.col("concept_id").contains("\x1e"))
    got = hierarchy_edge_sets(concepts, _name_expr())
    p, r = edge_precision_recall(got, truth_edges)
    assert p == 1.0 and r == 1.0, (p, r)
    # P8: the thesis's headline score — TED against the planted truth is 0
    _, _, truth_bracket = generate_labels(3, 3, 2, 0.0)
    got_bracket = to_bracket(concepts.withColumn("name", _name_expr()), name_col="name")
    assert tree_edit_distance(got_bracket, truth_bracket) == 0
    assert invariant_violations(h["concepts"], h["assignments"]) == {
        "dup_instance": 0, "assign_to_inner": 0, "orphans": 0, "partition_counts": 0,
    }


def test_taxonomy_recovery_under_noise(spark):
    # 10% label noise, as in the reference sweep (0/5/10/20/33%)
    df = labels_spark_df(spark, width=2, depth=4, iterations=4, noise=0.10, seed=7)
    h = build_hierarchy(
        df.select(F.col("id").alias("instance_id"), F.col("labels").alias("intent")),
        galois=True,
    )
    _, truth_edges, _ = generate_labels(2, 4, 4, 0.10, seed=7)
    concepts = h["concepts"].where(~F.col("concept_id").contains("\x1e"))
    got = hierarchy_edge_sets(concepts, _name_expr())
    p, r = edge_precision_recall(got, truth_edges)
    # noisy records add spurious concepts but the planted tree must survive
    assert r >= 0.9, (p, r)
    # P8: under noise the TED equals exactly the spurious-concept count —
    # every edit is an insertion; the planted tree is embedded unchanged
    _, _, truth_bracket = generate_labels(2, 4, 4, 0.10, seed=7)
    got_bracket = to_bracket(concepts.withColumn("name", _name_expr()), name_col="name")
    ted = tree_edit_distance(got_bracket, truth_bracket)
    assert ted == got_bracket.count("{") - truth_bracket.count("{"), ted
    assert invariant_violations(h["concepts"], h["assignments"]) == {
        "dup_instance": 0, "assign_to_inner": 0, "orphans": 0, "partition_counts": 0,
    }


@pytest.mark.parametrize(
    "noise,n_concepts,p,ted,ted_pruned",
    [
        (0.0, 121, 1.0, 0, 0),
        (0.05, 151, 120 / 143, 30, 8),
        (0.10, 194, 120 / 172, 73, 15),
        (0.20, 252, 120 / 208, 131, 28),
        (0.33, 301, 120 / 233, 180, 52),
    ],
    ids=["noise0", "noise5", "noise10", "noise20", "noise33"],
)
def test_noise_sweep_is_pinned(spark, noise, n_concepts, p, ted, ted_pruned):
    """The reference's noise sweep (0/5/10/20/33 %) on a 3-wide, 4-deep
    planted taxonomy (120 edges), 5 records per leaf: every planted edge
    survives (R = 1), while each noisy record adds spurious concepts, so P
    falls and TED grows with noise. Pruning below 5 % of the parent's
    support, the reference's table threshold (`TreeUtils.java:133`),
    removes most of that TED. The quality baseline in BASELINE.md."""
    df = labels_spark_df(spark, width=3, depth=4, iterations=5, noise=noise, seed=7)
    h = build_hierarchy(
        df.select(F.col("id").alias("instance_id"), F.col("labels").alias("intent")),
        galois=True,
    )
    _, truth_edges, truth_bracket = generate_labels(3, 4, 5, noise, seed=7)
    concepts = h["concepts"].where(~F.col("concept_id").contains("\x1e"))
    named = concepts.withColumn("name", _name_expr())
    assert concepts.count() == n_concepts
    got = hierarchy_edge_sets(concepts, _name_expr())
    assert edge_precision_recall(got, truth_edges) == (p, 1.0)
    assert tree_edit_distance(to_bracket(named, name_col="name"), truth_bracket) == ted
    pruned = to_bracket(named, name_col="name", min_support=0.05)
    assert tree_edit_distance(pruned, truth_bracket) == ted_pruned


def test_bracket_export_matches_truth_shape(spark):
    df = labels_spark_df(spark, width=2, depth=2, iterations=1, noise=0.0)
    h = build_hierarchy(
        df.select(F.col("id").alias("instance_id"), F.col("labels").alias("intent")),
        galois=True,
    )
    _, _, truth_bracket = generate_labels(2, 2, 1, 0.0)
    concepts = h["concepts"].where(~F.col("concept_id").contains("\x1e"))
    # name concepts by deepest intent item to align with truth naming
    named = concepts.withColumn("name", _name_expr())
    got = to_bracket(named, name_col="name")
    assert got == truth_bracket, (got, truth_bracket)


def test_tree_edit_distance_unit_costs():
    """Zhang-Shasha over bracket trees: unit insert/delete/relabel — the
    canonical example from the paper and edge cases."""
    assert tree_edit_distance("{a}", "{a}") == 0
    assert tree_edit_distance("{a}", "{b}") == 1
    assert tree_edit_distance("{a{b}}", "{a}") == 1
    assert tree_edit_distance("{a{b}{c}}", "{a{c}}") == 1
    assert tree_edit_distance("{a{b{c}}}", "{a{c{b}}}") == 2
    assert tree_edit_distance("{f{d{a}{c{b}}}{e}}", "{f{c{d{a}{b}}}{e}}") == 2
