"""F7 `integrateSubsequent` — the thesis's two-phase summary pipeline
(`algos/PropertyGraphCobweb.java:309-380`, lifecycle E2 in SURVEY §3).

Phase 1 builds three separate hierarchies:
  * node-properties tree   (labels + nominal property items, F1/F6)
  * structural tree        (log2-bucketed F2 features — the lattice
                            analogue of the Gaussian split on numerics)
  * relationships tree     (distinct relationship records, F5,
                            `PropertyGraphCobweb.java:280-299`)

Phase 2 re-describes every node by the CUTOFF-LEVEL concept labels it maps
to in each tree (`NodePropertiesConcept`, `StructuralFeaturesConcept`,
`RelationshipConcepts` — cutoff = log2(deepest)+1, capped at 3 for the
relationship tree, `PropertyGraphCobweb.java:227-228,339-341`) and builds
the final hierarchy over those summary intents. The per-node `findById`
DFS of the reference (its hot spot) is one hash join here.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .concepts import build_hierarchy, cutoff_labels, cutoff_level
from .features import collect_intents, incidence, prop_items, structural_features


def _items(nodes: DataFrame, edges: DataFrame | None, families,
           every_node: bool = False) -> DataFrame:
    """(id, item) rows of the chosen feature families (the parts of an
    ablation name), union'd; the item prefixes keep the families disjoint.
    ``every_node`` gives a node without labels one null label item, so
    grouping the rows covers every node (``collect_set`` drops the null)."""
    explode = F.explode_outer if every_node else F.explode
    rows = {
        "label": lambda: nodes.select("id", explode("labels").alias("item")),
        "prop": lambda: nodes.select("id", F.explode(prop_items("props")).alias("item")),
        "struct": lambda: structural_intents(nodes, edges).select(
            F.col("instance_id").alias("id"), F.explode("intent").alias("item")
        ),
        "char": lambda: incidence(edges).select(
            "id", F.concat(F.lit("Rel:"), F.col("rel_type")).alias("item")
        ),
    }
    return reduce(DataFrame.unionByName, (rows[f]() for f in families))


def node_prop_intents(nodes: DataFrame) -> DataFrame:
    """(instance_id, intent) — labels ∪ "key=value" nominal property items
    (F1 record conversion, `algos/ConceptNode.java:98-145`); nodes with
    neither are absent."""
    items = _items(nodes, None, ("label", "prop"))
    return collect_intents(items).withColumnRenamed("id", "instance_id")


def structural_intents(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(instance_id, intent) — the F2 features, log2-bucketed into items
    (the deterministic analogue of clustering numerics by Gaussian)."""
    feats = structural_features(nodes, edges)

    def bucket(col: str) -> F.Column:
        v = F.col(col)
        # exact integer log2 via binary-string length — floor(log2(double))
        # is a float hazard at power-of-2 boundaries and differs between
        # libm implementations; bin() is exact and DuckDB-portable
        b = F.when(v <= 0, F.lit(-1)).otherwise(
            (F.length(F.bin(v.cast("long"))) - 1).cast("int")
        )
        return F.concat(F.lit(col + ":b"), b.cast("string"))

    return feats.select(
        F.col("id").alias("instance_id"),
        F.array_sort(
            F.array(
                bucket("EgoDegree"),
                bucket("AverageNeighbourDegree"),
                bucket("EgoNetOutgoingEdges"),
                bucket("EgoNetIncomingEdges"),
            )
        ).alias("intent"),
    )


def relationship_intents(edges: DataFrame) -> DataFrame:
    """(instance_id, intent) for the DISTINCT relationship records (F5):
    RelType + "key=value" edge-property items; instance_id is the canonical
    item-set string so the tree is over relationship KINDS, as in
    `PropertyGraphCobweb.java:280-299`."""
    base = edges.select(
        F.col("rel_type"),
        F.array_sort(
            F.concat(
                F.array(F.concat(F.lit("RelType="), F.col("rel_type"))),
                prop_items("props"),
            )
        ).alias("intent"),
    ).distinct()
    return base.select(
        F.concat_ws("|", "intent").alias("instance_id"), "intent", "rel_type"
    )


def _cutoff_label_map(h: dict, cap: int | None = None) -> DataFrame:
    """assignments ⋈ cutoff labels → (instance_id, cutoff_label)."""
    level = cutoff_level(h["concepts"])
    if cap is not None:
        level = min(level, cap)
    labels = cutoff_labels(h["concepts"], max(level, 1))
    return h["assignments"].join(labels, "concept_id").select(
        "instance_id", "cutoff_label"
    )


ABLATION_VARIANTS = (
    "label", "label_prop", "label_struct", "label_char",
    "label_prop_struct", "label_prop_char", "label_struct_char",
    "label_prop_struct_char",
)


def feature_ablation_intents(nodes: DataFrame, edges: DataFrame,
                             variant: str = "label_struct_char") -> DataFrame:
    """F6 — the reference's 8 `integrate*` feature-vector ablations
    (`algos/PropertyGraphCobweb.java:40-248`; the Neo4j procedure entry uses
    labels+structural+characteristic, `proc/PropertyGraphCobwebProc.java:40`).

    Returns (instance_id, intent) for every node, with the chosen feature
    families union'd into one intent set (``[]`` for a node without items).
    Every variant includes ``label``, whose rows reach every node, so the
    node set is not joined back in.
    """
    if variant not in ABLATION_VARIANTS:
        raise ValueError(f"unknown variant {variant!r}")
    items = _items(nodes, edges, variant.split("_"), every_node=True)
    return collect_intents(items).withColumnRenamed("id", "instance_id")


def two_phase_hierarchy(spark: SparkSession, nodes: DataFrame,
                        edges: DataFrame,
                        summary_sink: str | None = None) -> dict[str, DataFrame]:
    """Returns the phase-2 hierarchy dict (+ the three phase-1 trees).

    ``summary_sink``: optional parquet path; when given, the phase-2
    summary-intent table is persisted there and read back before the final
    build — the seam that lets the DuckDB oracle rebuild the final tree
    from the exact same rows.
    """
    h_props = build_hierarchy(node_prop_intents(nodes), root_seed="n")
    h_struct = build_hierarchy(structural_intents(nodes, edges), root_seed="s")
    rel_int = relationship_intents(edges).localCheckpoint(eager=True)
    h_rels = build_hierarchy(rel_int.select("instance_id", "intent"), root_seed="r")

    p_lab = _cutoff_label_map(h_props).withColumnRenamed("cutoff_label", "p_lab")
    s_lab = _cutoff_label_map(h_struct).withColumnRenamed("cutoff_label", "s_lab")
    # relationship concepts: cutoff capped at 3 (PropertyGraphCobweb.java:227)
    r_lab = _cutoff_label_map(h_rels, cap=3).withColumnRenamed("cutoff_label", "r_lab")

    # map every edge to its relationship-kind concept label (the findById
    # DFS of the reference, as a broadcast join on the kind string)
    rel_kind = rel_int.select(
        F.col("rel_type"), F.col("instance_id")
    ).join(r_lab, "instance_id").select("rel_type", "r_lab")
    node_rel_labels = collect_intents(
        incidence(edges)
        .join(F.broadcast(rel_kind), "rel_type")
        .select("id", F.concat(F.lit("R:"), F.col("r_lab")).alias("item"))
    ).withColumnRenamed("intent", "r_items")

    summary = (
        nodes.select("id")
        .join(p_lab.withColumnRenamed("instance_id", "id"), "id", "left")
        .join(s_lab.withColumnRenamed("instance_id", "id"), "id", "left")
        .join(node_rel_labels, "id", "left")
        .select(
            F.col("id").alias("instance_id"),
            F.array_sort(
                F.concat(
                    F.array(
                        F.concat(F.lit("P:"), F.coalesce("p_lab", F.lit("-"))),
                        F.concat(F.lit("S:"), F.coalesce("s_lab", F.lit("-"))),
                    ),
                    F.coalesce(F.col("r_items"), F.array().cast("array<string>")),
                )
            ).alias("intent"),
        )
    )
    if summary_sink is not None:
        summary.write.mode("overwrite").parquet(summary_sink)
        summary = spark.read.parquet(summary_sink)
    final = build_hierarchy(summary, root_seed="c")
    final["props_tree"] = h_props["concepts"]
    final["struct_tree"] = h_struct["concepts"]
    final["rels_tree"] = h_rels["concepts"]
    return final
