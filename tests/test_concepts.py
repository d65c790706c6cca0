"""Concept-hierarchy semantics: lattice shape, labels, counts, invariants,
EAP/CU math — the reference's tree-invariant suite
(`PropertyGraphCobwebProcTest.java:122-199`) plus the quirky numeric rules
(`algos/ConceptNode.java:214-242`, `util/MathUtils.java:20-25`)."""

from __future__ import annotations

import itertools
import math
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    RESIDUAL_SUFFIX,
    SEP,
    build_hierarchy,
    category_utility,
    concept_stats,
    cutoff_labels,
    cutoff_level,
    expected_attribute_prediction,
    galois_closure,
    invariant_violations,
)


def _instances(spark, rows):
    return spark.createDataFrame(rows, "instance_id string, intent array<string>")


def test_hierarchy_structure_and_labels(spark):
    h = build_hierarchy(
        _instances(
            spark,
            [
                ("i1", ["a"]),
                ("i2", ["a", "b"]),
                ("i3", ["b", "a"]),  # order-insensitive
                ("i4", ["a", "c"]),
                ("i5", []),
            ],
        )
    )
    concepts = {r["concept_id"]: r.asDict() for r in h["concepts"].collect()}
    ab = "a" + SEP + "b"
    ac = "a" + SEP + "c"
    res_root = "" + RESIDUAL_SUFFIX
    res_a = "a" + RESIDUAL_SUFFIX
    assert set(concepts) == {"", "a", ab, ac, res_root, res_a}
    # parents: most specific proper subsumer
    assert concepts["a"]["parent_id"] == ""
    assert concepts[ab]["parent_id"] == "a"
    assert concepts[ac]["parent_id"] == "a"
    assert concepts[res_a]["parent_id"] == "a"
    assert concepts[res_root]["parent_id"] == ""
    # counts roll up: parent count = sum of children counts
    assert concepts[""]["count"] == 5
    assert concepts["a"]["count"] == 4
    assert concepts[ab]["count"] == 2
    assert concepts[ac]["count"] == 1
    assert concepts[res_a]["count"] == 1
    assert concepts[res_root]["count"] == 1
    # depths
    assert concepts[""]["depth"] == 0
    assert concepts["a"]["depth"] == 1
    assert concepts[ab]["depth"] == 2
    # path labels (T3, `util/TreeUtils.java:82-90`): seed 'c', child rank by cid
    assert concepts[""]["label"] == "c"
    assert concepts[res_root]["label"] == "c0"  # \x1e sorts before 'a'
    assert concepts["a"]["label"] == "c1"
    assert concepts[res_a]["label"] == "c10"
    assert concepts[ab]["label"] == "c11"
    assert concepts[ac]["label"] == "c12"
    # leaves/inner
    assert not concepts[""]["is_leaf"] and not concepts["a"]["is_leaf"]
    assert all(concepts[c]["is_leaf"] for c in (ab, ac, res_root, res_a))
    # assignments: leaves only, residual remap
    assign = {r["instance_id"]: r["concept_id"] for r in h["assignments"].collect()}
    assert assign == {"i1": res_a, "i2": ab, "i3": ab, "i4": ac, "i5": res_root}
    # closure: every concept with itself and each ancestor, residuals included
    closure = {(r["desc"], r["anc"]) for r in h["closure"].collect()}
    assert h["closure"].count() == len(closure) == 14
    assert closure == {
        ("", ""),
        ("a", "a"), ("a", ""),
        (ab, ab), (ab, "a"), (ab, ""),
        (ac, ac), (ac, "a"), (ac, ""),
        (res_root, res_root), (res_root, ""),
        (res_a, res_a), (res_a, "a"), (res_a, ""),
    }
    # reference invariant suite
    assert invariant_violations(h["concepts"], h["assignments"]) == {
        "dup_instance": 0,
        "assign_to_inner": 0,
        "orphans": 0,
        "partition_counts": 0,
    }


def test_cutoff_level_log2_rule(spark):
    # log2(deepest)+1 with integer log2 and log2(0) = -1 (MathUtils.java:20-25)
    root_only = build_hierarchy(_instances(spark, [("i", [])]))
    assert cutoff_level(root_only["concepts"]) == 0
    # no residual leaf: the instance keeps its own (root) concept
    assert {r["instance_id"]: r["concept_id"] for r in root_only["assignments"].collect()} == {
        "i": ""
    }
    h = build_hierarchy(
        _instances(spark, [("1", ["a"]), ("2", ["a", "b"]), ("3", ["a", "b", "c"])])
    )
    # depths 0..3; log2(3)=1 -> cutoff 2
    assert cutoff_level(h["concepts"]) == 2
    labels = {
        r["concept_id"]: r["cutoff_label"]
        for r in cutoff_labels(h["concepts"], 2).collect()
    }
    assert all(len(v) <= 2 for v in labels.values())


def test_eap_numeric_rule_and_histograms(spark):
    # two concepts: X (values 1,1 -> sigma 0 -> numeric contributes 0)
    #               Y (values 1,3 -> sigma 1 -> 1/(7*(1+1)) = 1/14)
    attrs = spark.createDataFrame(
        [
            ("a1", "color", "nom", "red", None),
            ("a1", "size", "num", None, 1.0),
            ("a2", "color", "nom", "red", None),
            ("a2", "size", "num", None, 1.0),
            ("b1", "color", "nom", "red", None),
            ("b1", "size", "num", None, 1.0),
            ("b2", "color", "nom", "blue", None),
            ("b2", "size", "num", None, 3.0),
        ],
        "instance_id string, attr string, kind string, nom_value string, num_value double",
    )
    assignments = spark.createDataFrame(
        [("a1", "X"), ("a2", "X"), ("b1", "Y"), ("b2", "Y")],
        "instance_id string, concept_id string",
    )
    closure = spark.createDataFrame(
        [("X", "X"), ("Y", "Y")], "desc string, anc string"
    )
    stats = concept_stats(attrs, assignments, closure)
    # histogram merge semantics (updateCounts, ConceptNode.java:159-207):
    # X.color has one row red cnt 2; Y.color two rows cnt 1 each
    rows = {
        (r["concept_id"], r["attr"], r["nom_value"]): r["cnt"]
        for r in stats.where("kind = 'nom'").collect()
    }
    assert rows == {
        ("X", "color", "red"): 2,
        ("Y", "color", "red"): 1,
        ("Y", "color", "blue"): 1,
    }
    counts = assignments.groupBy("concept_id").agg(F.count("*").alias("count"))
    eap = {r["concept_id"]: r["eap"] for r in expected_attribute_prediction(stats, counts).collect()}
    # X: nominal (2/2)^2 = 1; numeric sigma=0 -> 0; /2 attrs = 0.5
    assert math.isclose(eap["X"], 0.5, abs_tol=1e-12)
    # Y: nominal (1/2)^2+(1/2)^2 = .5 ; numeric 1/(7*2)=1/14 ; /2
    assert math.isclose(eap["Y"], (0.5 + 1.0 / 14.0) / 2.0, abs_tol=1e-12)


def test_category_utility_formula(spark):
    concepts = spark.createDataFrame(
        [("root", None, 4), ("X", "root", 2), ("Y", "root", 2)],
        "concept_id string, parent_id string, count long",
    )
    eap = spark.createDataFrame(
        [("root", 0.3), ("X", 0.5), ("Y", 0.4)], "concept_id string, eap double"
    )
    cu = {r["concept_id"]: r["cu"] for r in category_utility(concepts, eap).collect()}
    # (2/4*(0.5-0.3) + 2/4*(0.4-0.3)) / 2 children = 0.075
    assert math.isclose(cu["root"], 0.075, abs_tol=1e-12)


def test_hierarchy_deterministic_across_partitionings(spark):
    rows = [
        (f"i{k}", sorted({random.Random(k).choice("abcd") for _ in range(3)}))
        for k in range(60)
    ]
    a = build_hierarchy(_instances(spark, rows).repartition(2))
    b = build_hierarchy(_instances(spark, rows).repartition(13))
    ca = sorted(map(tuple, a["concepts"].drop("intent").collect()))
    cb = sorted(map(tuple, b["concepts"].drop("intent").collect()))
    assert ca == cb
    assert sorted(map(tuple, a["assignments"].collect())) == sorted(
        map(tuple, b["assignments"].collect())
    )


def test_galois_diamond_pruned_and_labels_exact(spark):
    """Zero-count Galois-added subtrees are pruned before labeling: the
    diamond {a,d} below is closure-added but ends up childless and
    instance-free, so it must vanish, and the surviving sibling ranks
    (residual leaf first, then by cid) must be exact."""
    rows = [
        ("i1", ["a", "b", "c"]),
        ("i2", ["a", "b", "d"]),
        ("i3", ["a", "c", "d"]),
        ("i4", ["a", "b"]),
    ]
    h = build_hierarchy(_instances(spark, rows), galois=True)
    ab, ac = "a" + SEP + "b", "a" + SEP + "c"
    got = {
        r["concept_id"]: (r["parent_id"], r["label"], r["count"])
        for r in h["concepts"].collect()
    }
    assert got == {
        "": (None, "c", 4),
        "a": ("", "c0", 4),
        ab: ("a", "c00", 3),
        ab + RESIDUAL_SUFFIX: (ab, "c000", 1),
        ab + SEP + "c": (ab, "c001", 1),
        ab + SEP + "d": (ab, "c002", 1),
        ac: ("a", "c01", 1),
        ac + SEP + "d": (ac, "c010", 1),
    }  # the zero-count diamond a|d is absent
    assert invariant_violations(h["concepts"], h["assignments"]) == {
        "dup_instance": 0,
        "assign_to_inner": 0,
        "orphans": 0,
        "partition_counts": 0,
    }


def test_galois_closure_cap_raises(spark, monkeypatch):
    """Past the closure cap the driver pass raises a ValueError naming the
    cap and the closed-set size, instead of returning a partial lattice."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators import (
        concepts as C,
    )

    rows = [("i1", ["a", "b", "c"]), ("i2", ["a", "b", "d"]), ("i3", ["a", "c", "d"])]
    monkeypatch.setattr(C, "DRIVER_CLOSURE_CAP", 1)
    with pytest.raises(ValueError, match=r"reached 3 closed sets, over DRIVER_CLOSURE_CAP=1"):
        build_hierarchy(_instances(spark, rows), galois=True)


@pytest.mark.parametrize(
    "intents,want",
    [
        # {a} is the second generator's meet with the first
        ([("a", "b"), ("a", "c")], {("a", "b"), ("a", "c"), ("a",)}),
        # the 4-subsets of abcde: a k-subset is the meet of the 5 − k
        # generators that contain it, so each 1-subset needs four of them;
        # the closure is every nonempty subset
        (
            list(itertools.combinations("abcde", 4)),
            {t for k in range(1, 5) for t in itertools.combinations("abcde", k)},
        ),
    ],
    ids=["two_generators", "subset_chain"],
)
def test_galois_closure_reaches_the_fixpoint(intents, want):
    """One pass over the generators reaches the whole closure, however
    many generators a closed set is the meet of."""
    assert {tuple(sorted(s)) for s in galois_closure(intents)} == want


def _skewed_rows(alphabet, n, max_size, seed):
    rnd = random.Random(seed)
    return [
        (
            f"i{k}",
            sorted({
                alphabet[int(len(alphabet) * rnd.random() ** 2)]
                for _ in range(rnd.randint(1, max_size))
            }),
        )
        for k in range(n)
    ]


_ALL_SUBSETS_2_3 = [
    (f"i{k}", list(s))
    for k, s in enumerate(
        list(itertools.combinations("abcdef", 2))
        + list(itertools.combinations("abcdef", 3))
    )
]


@pytest.mark.parametrize(
    "rows",
    [
        # hub items: quadratic skew toward the head of a 40-item alphabet
        _skewed_rows([f"h{i:02d}" for i in range(40)], 400, 8, 3),
        # 150 items: intents span three 64-bit words
        _skewed_rows([f"w{i:03d}" for i in range(150)], 400, 4, 5),
        # every 3-set has three equal-size parents: ties → smallest cid
        _ALL_SUBSETS_2_3,
    ],
    ids=["hub_skewed", "three_words", "equal_size_ties"],
)
def test_parent_map_matches_all_pairs_reference(spark, rows):
    """Parent = the largest proper subsumer, ties → smallest cid, none →
    root; checked against a brute-force all-pairs scan."""
    intents = {tuple(sorted(set(t))) for _, t in rows}
    want = {"": None}
    for d in intents:
        subs = [a for a in intents if len(a) < len(d) and set(a) <= set(d)]
        best = min(subs, key=lambda a: (-len(a), SEP.join(a)), default=())
        want[SEP.join(d)] = SEP.join(best)
    h = build_hierarchy(_instances(spark, rows))
    got = {
        r["concept_id"]: r["parent_id"]
        for r in h["concepts"].collect()
        if not r["concept_id"].endswith(RESIDUAL_SUFFIX)
    }
    assert got == want


def test_galois_closure_equals_bruteforce_at_10x():
    """Generator-only intersection must reach the SAME fixpoint as the
    known×known definition — validated against a brute-force Python closure
    on a 10×-cardinality intent table (300 draws over a 12-item alphabet),
    inside the normal test budget."""
    rnd = random.Random(7)
    distinct = sorted({
        tuple(sorted({rnd.choice("abcdefghijkl") for _ in range(5)}))
        for _ in range(300)
    })
    got = {tuple(sorted(s)) for s in galois_closure(distinct)}

    closed = {frozenset(t) for t in distinct}
    while True:
        new = {a & b for a in closed for b in closed if a & b} - closed
        if not new:
            break
        closed |= new
    want = {tuple(sorted(s)) for s in closed}
    assert got == want


def _ingest(spark, batches):
    """Merge each batch into a fresh persisted state dir (batch ids 0, 1,
    ...) and read the tree back — the incremental job's and the hierarchy
    stream's path."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        hierarchy_from_state_dir,
        merge_batch_into_state,
    )

    state_dir = tempfile.mkdtemp(prefix="chf_inc_")
    try:
        for b, rows in enumerate(batches):
            merge_batch_into_state(_instances(spark, rows), b, state_dir)
        h = hierarchy_from_state_dir(spark, state_dir, galois=True)
        return {k: sorted(map(tuple, h[k].collect()))
                for k in ("concepts", "assignments", "closure")}
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_incremental_update_equals_batch_rebuild(spark):
    """The reference's core USP (incremental insertion) without its order
    dependence: merging D2 into the persisted state of D1 must be
    BIT-IDENTICAL to build_hierarchy(D1 ∪ D2) — including the leaf→inner
    transition where i1's concept {a} gains a child {a,b} and i1 remaps to
    the fresh residual leaf."""
    d1 = [("i1", ["a"]), ("i2", ["b", "c"]), ("i3", ["a"])]
    d2 = [("i4", ["a", "b"]), ("i5", ["b", "c"]), ("i6", ["b"])]

    inc = _ingest(spark, [d1, d2])
    batch = build_hierarchy(_instances(spark, d1 + d2), galois=True)

    for key in ("concepts", "assignments", "closure"):
        full = sorted(map(tuple, batch[key].collect()))
        assert inc[key] == full, f"incremental != batch in {key}"

    # the leaf→inner remap happened: i1/i3 now live under the residual of 'a'
    assign = dict(inc["assignments"])
    assert assign["i1"] == "a" + RESIDUAL_SUFFIX
    assert assign["i4"] == "a" + SEP + "b"


def test_incremental_update_order_free(spark):
    """Batch arrival order must not matter (the order effect the reference
    mitigates by shuffling, T8 — impossible here by construction)."""
    rows = [
        (f"i{k}", sorted({random.Random(500 + k).choice("abcde") for _ in range(3)}))
        for k in range(40)
    ]
    a, b = rows[:20], rows[20:]

    ab = _ingest(spark, [a, b])
    ba = _ingest(spark, [b, a])
    for key in ("concepts", "assignments", "closure"):
        assert ab[key] == ba[key], f"order dependence in {key}"


def test_empty_inputs_degenerate_gracefully(spark):
    """Empty instance table → root-only hierarchy, empty assignments; the
    degenerate inputs a scheduled production run will eventually see."""
    empty = _instances(spark, [])
    h = build_hierarchy(empty, galois=True)
    rows = h["concepts"].collect()
    assert [r["concept_id"] for r in rows] == [""]
    assert rows[0]["label"] == "c" and rows[0]["count"] == 0 and rows[0]["is_leaf"]
    assert h["assignments"].count() == 0
