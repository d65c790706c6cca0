"""Graph feature extraction — F2/F3 of the reference, exactly.

F2 `extractStructuralFeatures` (`algos/PropertyGraphCobweb.java:394-431`):
  EgoDegree              = undirected degree (in + out, multigraph)
  AverageNeighbourDegree = Σ_{incident e} deg(other(e))  INTEGER-DIV  deg,
                           0 for isolated nodes (the reference's
                           ``totalNeighbourDegree / egoDegree`` is Java int
                           division — replicated, not "fixed")
  EgoNetOutgoingEdges    = out(n) + Σ_{incident e} out(other(e))
  EgoNetIncomingEdges    = in(n)  + Σ_{incident e} in(other(e))
  NB: the reference iterates ``node.getRelationships()`` — BOTH directions —
  so a neighbour reachable via k parallel edges contributes k times.

F3 `extractCharacteristicSet` (`algos/PropertyGraphCobweb.java:250-258`):
  set of distinct rel types incident to the node, either direction.

Every intent family (F1 labels and property items, F3, the F6 ablations
and the F7 phase-1 trees in `operators/two_phase.py`) is built from three
shared pieces: the two-way ``incidence``, the ``prop_items`` "key=value"
expression and the ``collect_intents`` sorted-set collector.

Shuffle plan: degrees = two groupBys on edges; the neighbour gather is one
self-join of the incidence list with the per-node degree table. The degree
table has one row per node — under head-entity skew (hub nodes appear in a
large fraction of incidence rows) AQE skew-join splits the hot partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def incidence(edges: DataFrame) -> DataFrame:
    """(id, other, rel_type) — one row per (node, incident edge), both
    directions; callers select the columns they need and Catalyst prunes
    the rest."""
    return edges.select(
        F.col("src").alias("id"), F.col("dst").alias("other"), "rel_type"
    ).union(edges.select(F.col("dst").alias("id"), F.col("src").alias("other"), "rel_type"))


def prop_items(props: str | Column) -> Column:
    """ARRAY<STRING> of "key=value" items of a MAP<STRING,STRING> column —
    the nominal property items of the F1 record conversion
    (`algos/ConceptNode.java:98-145`)."""
    return F.transform(
        F.map_entries(props), lambda e: F.concat(e["key"], F.lit("="), e["value"])
    )


def collect_intents(items: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """items(id, item) → (id, intent ARRAY<STRING>), one sorted set per id.

    ``array_sort`` makes the set canonical so it can serve directly as a
    groupBy key in the lattice stage. With ``nodes`` every node id is
    returned, ``[]`` for a node without items; nodes=None returns only the
    ids that have items.
    """
    out = items.groupBy("id").agg(F.array_sort(F.collect_set("item")).alias("intent"))
    if nodes is None:
        return out
    return (
        nodes.select("id")
        .join(out, "id", "left")
        .select("id", F.coalesce("intent", F.array().cast("array<string>")).alias("intent"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(id, out_deg, in_deg, deg) for every endpoint that occurs in edges."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn("deg", F.col("out_deg") + F.col("in_deg"))
    )


def structural_features(nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    """F2 for every node id in ``nodes`` (isolated nodes get 0s).

    nodes=None means the node set IS the edge endpoints — skips the
    endpoints-distinct shuffle and the outer join (every endpoint has a
    degree row already), the common case when the graph came from triples.
    """
    degs = degrees(edges)
    inc = incidence(edges).select("id", "other")
    dim = degs.select(
        F.col("id").alias("other"),
        F.col("deg").alias("o_deg"),
        F.col("out_deg").alias("o_out"),
        F.col("in_deg").alias("o_in"),
    )
    nbr = inc.join(dim, "other").groupBy("id").agg(
        F.sum("o_deg").alias("tnd"),
        F.sum("o_out").alias("tno"),
        F.sum("o_in").alias("tni"),
    )
    feats = degs.join(nbr, "id", "left").select(
        "id",
        F.col("deg").alias("EgoDegree"),
        F.when(F.col("deg") == 0, F.lit(0))
        .otherwise(F.floor(F.coalesce("tnd", F.lit(0)) / F.col("deg")))
        .cast("long")
        .alias("AverageNeighbourDegree"),
        (F.col("out_deg") + F.coalesce("tno", F.lit(0))).alias("EgoNetOutgoingEdges"),
        (F.col("in_deg") + F.coalesce("tni", F.lit(0))).alias("EgoNetIncomingEdges"),
    )
    if nodes is None:
        return feats
    return (
        nodes.select("id")
        .join(feats, "id", "left")
        .select(
            "id",
            F.coalesce("EgoDegree", F.lit(0)).alias("EgoDegree"),
            F.coalesce("AverageNeighbourDegree", F.lit(0)).alias("AverageNeighbourDegree"),
            F.coalesce("EgoNetOutgoingEdges", F.lit(0)).alias("EgoNetOutgoingEdges"),
            F.coalesce("EgoNetIncomingEdges", F.lit(0)).alias("EgoNetIncomingEdges"),
        )
    )


def characteristic_sets(nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    """F3: (id, rel_types ARRAY<STRING> sorted) — the FCA intent column.

    nodes=None ⇒ node set = edge endpoints (skips the outer join; isolated
    nodes can't exist then).
    """
    items = incidence(edges).select("id", F.col("rel_type").alias("item"))
    return collect_intents(items, nodes).withColumnRenamed("intent", "rel_types")
