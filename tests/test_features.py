"""F2/F3 graph features vs hand-computed goldens.

Replicates the reference semantics exactly (`algos/PropertyGraphCobweb.java:394-431`,
`:250-258`): undirected incidence, parallel edges count multiply, integer
division for AverageNeighbourDegree, isolated nodes get 0s.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.features import (
    characteristic_sets,
    degrees,
    structural_features,
)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id string")


def _edges(spark, triples):
    return spark.createDataFrame(
        [(s, d, t) for s, t, d in triples], "src string, dst string, rel_type string"
    )


def test_structural_features_golden(spark):
    # A->B, A->C, A->D, B->C ; E isolated
    edges = _edges(spark, [("A", "r", "B"), ("A", "r", "C"), ("A", "r", "D"), ("B", "r", "C")])
    nodes = _nodes(spark, ["A", "B", "C", "D", "E"])
    got = {r["id"]: r.asDict() for r in structural_features(nodes, edges).collect()}
    # degrees: A deg3(out3), B deg2(out1,in1), C deg2(in2), D deg1(in1)
    # A nbrs [B,C,D] degs 2+2+1=5 -> 5//3 = 1  (int division, not 1.67)
    assert got["A"]["EgoDegree"] == 3
    assert got["A"]["AverageNeighbourDegree"] == 1
    # EgoNetOut(A) = out(A) + out(B)+out(C)+out(D) = 3 + 1+0+0 = 4
    assert got["A"]["EgoNetOutgoingEdges"] == 4
    # EgoNetIn(A) = in(A) + in(B)+in(C)+in(D) = 0 + 1+2+1 = 4
    assert got["A"]["EgoNetIncomingEdges"] == 4
    # B nbrs [A, C]: degs 3+2=5 -> 5//2=2
    assert got["B"]["EgoDegree"] == 2
    assert got["B"]["AverageNeighbourDegree"] == 2
    assert got["B"]["EgoNetOutgoingEdges"] == 1 + 3 + 0
    assert got["B"]["EgoNetIncomingEdges"] == 1 + 0 + 2
    # isolated node: all zero (PropertyGraphCobweb.java:415-419)
    assert got["E"] == {
        "id": "E",
        "EgoDegree": 0,
        "AverageNeighbourDegree": 0,
        "EgoNetOutgoingEdges": 0,
        "EgoNetIncomingEdges": 0,
    }


def test_parallel_edges_count_multiply(spark):
    # X->Y twice: multigraph — neighbour contributes once per incident edge
    edges = _edges(spark, [("X", "r", "Y"), ("X", "r", "Y")])
    nodes = _nodes(spark, ["X", "Y"])
    got = {r["id"]: r.asDict() for r in structural_features(nodes, edges).collect()}
    assert got["X"]["EgoDegree"] == 2
    assert got["X"]["AverageNeighbourDegree"] == 2  # (2+2)//2
    assert got["X"]["EgoNetOutgoingEdges"] == 2  # 2 + 0 + 0
    assert got["Y"]["EgoNetOutgoingEdges"] == 0 + 2 + 2


def test_degrees(spark):
    edges = _edges(spark, [("A", "r", "B"), ("B", "r", "A"), ("A", "r", "B")])
    got = {r["id"]: (r["out_deg"], r["in_deg"], r["deg"]) for r in degrees(edges).collect()}
    assert got == {"A": (2, 1, 3), "B": (1, 2, 3)}


def test_characteristic_sets_sorted_undirected(spark):
    edges = _edges(spark, [("A", "z_rel", "B"), ("B", "a_rel", "A"), ("A", "a_rel", "C")])
    nodes = _nodes(spark, ["A", "B", "C", "D"])
    got = {r["id"]: r["rel_types"] for r in characteristic_sets(nodes, edges).collect()}
    assert got["A"] == ["a_rel", "z_rel"]  # sorted, both directions
    assert got["B"] == ["a_rel", "z_rel"]
    assert got["C"] == ["a_rel"]
    assert got["D"] == []  # isolated -> empty intent


def test_approximate_aggregates_within_tolerance(spark):
    """The 100 TB profiling path: sketch-based aggregates
    (approx_count_distinct HLL++, percentile_approx) must land within
    their documented error of the exact answers — these replace exact
    count-distinct/sort-based quantiles when the key cardinality itself
    is the bottleneck."""
    from pyspark.sql import functions as F

    from concept_hierarchy_formation_in_property_graphs_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx_p50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
    ).first()
    assert abs(row["approx_orders"] - row["exact_orders"]) / row["exact_orders"] < 0.05
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] < 0.01


# A hand-built property graph for the intent families: duplicate labels,
# string props, one node with neither labels nor props (d), parallel
# a→c edges, one isolated node (e) and edge props.
_NODES = [
    ("a", ["Person", "Person"], {"city": "X", "age": "30"}),
    ("b", ["Person"], {"city": "X"}),
    ("c", ["Org"], {}),
    ("d", [], {}),
    ("e", ["Org"], {"city": "Y"}),
]
_EDGES = [
    ("a", "c", "WORKS_AT", {"since": "2019"}),
    ("a", "c", "WORKS_AT", {"since": "2019"}),
    ("b", "c", "WORKS_AT", {"since": "2020"}),
    ("c", "d", "ACQUIRED", {}),
    ("b", "a", "KNOWS", {}),
]


def _family_items_py() -> dict[str, dict[str, set[str]]]:
    """family → node → item set, from the graph above in plain Python."""
    out_d = {n: sum(s == n for s, _, _, _ in _EDGES) for n, _, _ in _NODES}
    in_d = {n: sum(d == n for _, d, _, _ in _EDGES) for n, _, _ in _NODES}
    deg = {n: out_d[n] + in_d[n] for n in out_d}
    inc = [(s, d, t) for s, d, t, _ in _EDGES] + [(d, s, t) for s, d, t, _ in _EDGES]

    def bucket(name: str, v: int) -> str:
        return f"{name}:b{v.bit_length() - 1 if v > 0 else -1}"

    fam: dict[str, dict[str, set[str]]] = {f: {} for f in ("label", "prop", "struct", "char")}
    for n, labels, props in _NODES:
        others = [o for i, o, _ in inc if i == n]
        feats = {
            "EgoDegree": deg[n],
            "AverageNeighbourDegree": sum(deg[o] for o in others) // deg[n] if deg[n] else 0,
            "EgoNetOutgoingEdges": out_d[n] + sum(out_d[o] for o in others),
            "EgoNetIncomingEdges": in_d[n] + sum(in_d[o] for o in others),
        }
        fam["label"][n] = set(labels)
        fam["prop"][n] = {f"{k}={v}" for k, v in props.items()}
        fam["struct"][n] = {bucket(k, v) for k, v in feats.items()}
        fam["char"][n] = {f"Rel:{t}" for i, _, t in inc if i == n}
    return fam


def test_intent_families_match_python_sets(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.operators.two_phase import (
        ABLATION_VARIANTS,
        feature_ablation_intents,
        node_prop_intents,
        relationship_intents,
    )

    nodes = spark.createDataFrame(
        _NODES, "id string, labels array<string>, props map<string,string>"
    )
    edges = spark.createDataFrame(
        _EDGES, "src string, dst string, rel_type string, props map<string,string>"
    )
    fam = _family_items_py()
    ids = [n for n, _, _ in _NODES]

    for variant in ABLATION_VARIANTS:
        want = {n: sorted(set().union(*(fam[f][n] for f in variant.split("_")))) for n in ids}
        got = {
            r["instance_id"]: r["intent"]
            for r in feature_ablation_intents(nodes, edges, variant).collect()
        }
        assert got == want, variant

    # labels ∪ property items; d has neither and is absent
    want = {n: sorted(fam["label"][n] | fam["prop"][n]) for n in ids}
    want = {n: v for n, v in want.items() if v}
    assert set(want) == {"a", "b", "c", "e"}
    got = {r["instance_id"]: r["intent"] for r in node_prop_intents(nodes).collect()}
    assert got == want

    # one row per distinct relationship record (parallel a→c collapses)
    want = set()
    for _, _, t, p in _EDGES:
        intent = tuple(sorted([f"RelType={t}"] + [f"{k}={v}" for k, v in p.items()]))
        want.add(("|".join(intent), intent, t))
    got = {
        (r["instance_id"], tuple(r["intent"]), r["rel_type"])
        for r in relationship_intents(edges).collect()
    }
    assert got == want and len(want) == 4
