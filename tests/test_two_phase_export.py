"""F7 two-phase pipeline + T5/T6 exports + P5 representatives."""

from __future__ import annotations

from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    cluster_representatives,
    invariant_violations,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.export import (
    render_ascii,
    to_tex_forest,
    to_tex_tables,
    trees_to_tex_file,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.two_phase import (
    two_phase_hierarchy,
)


def _graph(spark):
    nodes = spark.createDataFrame(
        [
            ("a", ["Person"], {"city": "X"}, {}),
            ("b", ["Person"], {"city": "X"}, {}),
            ("c", ["Org"], {}, {}),
            ("d", ["Org"], {"city": "Y"}, {}),
        ],
        "id string, labels array<string>, props map<string,string>, "
        "num_props map<string,double>",
    )
    edges = spark.createDataFrame(
        [
            ("a", "c", "WORKS_AT", {}),
            ("b", "c", "WORKS_AT", {}),
            ("c", "d", "ACQUIRED", {}),
        ],
        "src string, dst string, rel_type string, props map<string,string>",
    )
    return nodes, edges


def test_two_phase_hierarchy_invariants_and_trees(spark):
    nodes, edges = _graph(spark)
    h = two_phase_hierarchy(spark, nodes, edges)
    assert invariant_violations(h["concepts"], h["assignments"]) == {
        "dup_instance": 0, "assign_to_inner": 0, "orphans": 0, "partition_counts": 0,
    }
    # every node summarized exactly once
    assert h["assignments"].count() == 4
    # phase-1 trees exist with distinct root seeds (labelTree seeds
    # 'n'/'s'/'r', proc uses 'c' for the final — TreeUtils.java:82-90)
    assert h["props_tree"].where("depth = 0").first()["label"] == "n"
    assert h["struct_tree"].where("depth = 0").first()["label"] == "s"
    assert h["rels_tree"].where("depth = 0").first()["label"] == "r"
    assert h["concepts"].where("depth = 0").first()["label"] == "c"
    # persons (same labels+props+structure) group together in the summary
    assign = {r["instance_id"]: r["concept_id"] for r in h["assignments"].collect()}
    assert assign["a"] == assign["b"]
    assert assign["a"] != assign["c"]


def test_ascii_and_forest_render(spark):
    nodes, edges = _graph(spark)
    h = two_phase_hierarchy(spark, nodes, edges)
    ascii_tree = render_ascii(h["concepts"])
    assert "c (count=4)" in ascii_tree.splitlines()[0]
    forest = to_tex_forest(h["concepts"])
    assert forest.startswith("\\begin{forest}") and forest.rstrip().endswith(
        "\\end{forest}"
    )


def test_tex_tables_prune_at_5pct_and_tex_file_sinks(spark, tmp_path):
    """T5 getTexTables + T6 treesToTexFile: a child at or under 5% of its
    parent's count gets no tabular (the forest keeps it — its cut is
    0.5%); nominal rows print the value count, numeric rows the Gaussian."""
    concepts = spark.createDataFrame(
        [
            ("c", None, 0, "c", 100),
            ("c0", "c", 1, "c0", 60),
            ("c1", "c", 1, "c1", 35),
            ("c2", "c", 1, "c2", 5),      # exactly 5% of c: pruned
            ("c00", "c0", 2, "c00", 4),   # 6.7% of c0: kept
            ("c01", "c0", 2, "c01", 2),   # 3.3% of c0: pruned
        ],
        "concept_id string, parent_id string, depth int, label string, count long",
    )
    stats = spark.createDataFrame(
        [
            ("c", "city", "nom", "X", 60, None, None, None),
            ("c", "age", "num", None, None, 100, 30.5, 2.25),
            ("c00", "city", "nom", "X", 4, None, None, None),
            ("c2", "city", "nom", "Y", 5, None, None, None),
            ("c01", "city", "nom", "Z", 2, None, None, None),
        ],
        "concept_id string, attr string, kind string, nom_value string, "
        "cnt long, num_count long, num_mean double, num_std double",
    )
    tex = to_tex_tables(stats, concepts)
    assert tex.count("\\begin{tabular}{lll}") == 4
    for kept in ("c (count=100)", "c0 (count=60)", "c1 (count=35)",
                 "c00 (count=4)"):
        assert f"\\multicolumn{{3}}{{c}}{{{kept}}}" in tex
    assert "c2 (count" not in tex and "c01 (count" not in tex
    assert "city & Y" not in tex and "city & Z" not in tex
    rows = tex.splitlines()
    assert "city & X & n=60 \\\\" in rows
    assert "city & X & n=4 \\\\" in rows
    assert "age & gaussian & $\\mu$=30.500, $\\sigma$=2.250, n=100 \\\\" in rows

    base = str(tmp_path / "h")
    trees_to_tex_file(concepts, base)
    assert (tmp_path / "hTree.tex").read_text() == to_tex_forest(concepts)
    assert "c01 (2)" in (tmp_path / "hTree.tex").read_text()
    assert not (tmp_path / "hConcepts.tex").exists()
    trees_to_tex_file(concepts, base, concept_stats=stats)
    assert (tmp_path / "hConcepts.tex").read_text() == tex


def test_cluster_representatives_intersection(spark):
    members = spark.createDataFrame(
        [
            ("g1", ["a", "b", "c"]),
            ("g1", ["b", "c", "d"]),
            ("g2", ["x", "y"]),
            ("g3", ["p"]),
            ("g3", ["q"]),
        ],
        "cluster string, items array<string>",
    )
    got = {
        r["cluster"]: r["representative"]
        for r in cluster_representatives(members, "cluster", "items").collect()
    }
    assert got == {"g1": ["b", "c"], "g2": ["x", "y"], "g3": []}


def test_single_linkage_matrix_and_cut_equals_components(spark):
    """P4 tail: Kruskal-order union-find IS single linkage — verify (a)
    scipy-shape invariants (non-decreasing distances, correct sizes) and
    (b) the dendrogram cut at distance d equals the connected components
    of the ≤d distance graph (computed by the DISTRIBUTED CC operator,
    cross-validating the two implementations), and (c) the bracket
    flattening parses back through the TED machinery."""
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.export import (
        linkage_to_bracket,
        single_linkage_matrix,
        tree_edit_distance,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.linking import (
        connected_components,
    )

    rnd = random.Random(21)
    n = 24
    pairs = [
        (i, j, round(rnd.random(), 3))
        for i in range(n) for j in range(i + 1, n)
        if rnd.random() < 0.4
    ]
    merges = single_linkage_matrix(n, pairs)
    dists = [m[2] for m in merges]
    assert dists == sorted(dists)
    assert all(m[3] >= 2 for m in merges)

    cut = 0.35
    kept = [m for m in merges if m[2] <= cut]
    # rebuild cluster membership from the kept merges
    members: dict[int, set[int]] = {i: {i} for i in range(n)}
    for k, (a, b, _d, _s) in enumerate(merges):
        if _d <= cut:
            members[n + k] = members.pop(a) | members.pop(b)
    py_clusters = {frozenset(v) for v in members.values() if len(v) > 1}

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{j:02d}") for i, j, d in pairs if d <= cut],
        "src string, dst string",
    )
    comp: dict[str, list] = {}
    for r in connected_components(edges).collect():
        comp.setdefault(r["component"], []).append(int(r["id"][1:]))
    cc_clusters = {frozenset(v) for v in comp.values()}
    assert py_clusters == cc_clusters

    bracket = linkage_to_bracket(n, merges)
    assert tree_edit_distance(bracket, bracket) == 0  # parses + self-distance
