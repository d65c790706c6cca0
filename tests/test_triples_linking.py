"""Triple emission (P11 graft of load_yelp.cql) + linking/canonicalization."""

from __future__ import annotations

from concept_hierarchy_formation_in_property_graphs_spark.operators.linking import (
    canonicalize_surfaces,
    connected_components,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.triples import (
    emit_record_triples,
)


def test_emit_record_triples_null_guards_and_explode(spark):
    biz = spark.createDataFrame(
        [
            ("b1", "Springfield", None, ["Cafe", "Bar"]),
            ("b2", "Shelbyville", "full_bar", []),
            ("b1", "Springfield", None, ["Cafe"]),  # duplicate rows dedup
        ],
        "business_id string, city string, alcohol string, categories array<string>",
    )
    got = set(
        map(
            tuple,
            emit_record_triples(
                biz,
                "business_id",
                relations=[("IN_CITY", "city"), ("HAS_ALCOHOL", "alcohol")],
                explode_relations=[("IN_CATEGORY", "categories")],
            ).collect(),
        )
    )
    assert got == {
        ("b1", "IN_CITY", "Springfield"),
        ("b2", "IN_CITY", "Shelbyville"),
        ("b2", "HAS_ALCOHOL", "full_bar"),  # b1's NULL emits nothing
        ("b1", "IN_CATEGORY", "Cafe"),
        ("b1", "IN_CATEGORY", "Bar"),
    }


def test_connected_components_min_label(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("y", "z")], "src string, dst string"
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_canonicalize_groups_aliases(spark):
    surfaces = spark.createDataFrame(
        [
            ("University of Konstanz",),
            ("Konstanz University",),
            ("Acme Corporation",),
            ("Acme Corp.",),
            ("Zebra Unrelated Phrase",),
        ],
        "surface string",
    )
    got = {r["surface"]: r["canonical"] for r in canonicalize_surfaces(surfaces, threshold=0.4).collect()}
    assert got["University of Konstanz"] == got["Konstanz University"]
    assert got["Acme Corporation"] == got["Acme Corp."]
    assert got["Zebra Unrelated Phrase"] == "Zebra Unrelated Phrase"
    assert got["Acme Corporation"] != got["University of Konstanz"]


def test_lsh_bucket_cap_bounds_candidates_keeps_components(spark):
    """A planted mega-cluster (500 near-identical aliases) must not go
    quadratic: with ``max_bucket`` the candidate count collapses, yet the
    downstream connected components are unchanged — connectivity survives
    through the smaller, uncapped per-band buckets."""
    from pyspark.sql import functions as F

    from concept_hierarchy_formation_in_property_graphs_spark.operators.linking import (
        char_shingles,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.lsh import (
        band_keys,
        bucket_pairs,
        minhash,
    )

    mega = [(f"globex holdings incorporated branch office {i:03d}",) for i in range(500)]
    other = [("tiny llc",), ("tiny l.l.c.",), ("unrelated zebra phrase",)]
    uniq = spark.createDataFrame(mega + other, "surface string")
    sets = uniq.select(
        F.col("surface").alias("id"), char_shingles(F.col("surface")).alias("items")
    )
    sig = minhash(sets, num_perm=16).localCheckpoint(eager=True)
    banded = band_keys(sig, num_perm=16, bands=16)

    uncapped = bucket_pairs(banded)
    capped = bucket_pairs(banded, max_bucket=64, chain=True)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_capped < n_uncapped / 4  # the quadratic bulk is gone
    assert n_capped > 0

    from concept_hierarchy_formation_in_property_graphs_spark.operators.linking import (
        connected_components,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.lsh import (
        jaccard_verify,
    )

    def edges(pairs):
        return jaccard_verify(pairs, sets, 0.5).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )

    comp_un = connected_components(edges(uncapped))
    comp_cap = connected_components(edges(capped))
    as_map = lambda df: {r["id"]: r["component"] for r in df.collect()}
    assert as_map(comp_un) == as_map(comp_cap)


def test_connected_components_chain_convergence(spark):
    """100-node chain: diameter-bound propagation must converge (no silent
    truncation) given enough rounds, and raise — not return partial
    components — when max_iter is too small."""
    import pytest

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(99)], "src string, dst string"
    )
    got = {r["id"]: r["component"] for r in connected_components(chain, max_iter=120).collect()}
    assert set(got.values()) == {"n000"} and len(got) == 100
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iter=3)
