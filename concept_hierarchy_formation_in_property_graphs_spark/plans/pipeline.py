"""End-to-end KG-construction pipeline (BASELINE.json north_star):

  pages ─S1→ text ─S2→ mention pairs ─S3→ links ─S4→ triples + graph
        ─S5→ features/intents ─S6→ concept hierarchy

Every stage checkpoints through :class:`StageRunner` so a killed job
resumes from the last complete snapshot. The returned dict carries each
stage's DataFrame plus the stage metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.pages import RELATION_PATTERNS, make_gazetteer
from ..functions.mentions import explode_pairs, text_and_mention_pairs
from ..operators.concepts import build_hierarchy
from ..operators.features import characteristic_sets, structural_features
from ..operators.graph import graph_from_triples
from ..operators.triples import triples_from_mention_pairs
from .checkpoint import StageRunner


def gazetteer_df(spark: SparkSession, n_entities: int = 500) -> DataFrame:
    """Surface→canonical link dimension from the closed gazetteer."""
    rows = []
    for e in make_gazetteer(n_entities):
        for s in e.surfaces:
            rows.append((s, e.canonical, e.kind, e.entity_id))
    return spark.createDataFrame(
        rows, "surface string, canonical string, kind string, entity_id long"
    )


def phrase_map() -> dict[str, str]:
    return {phrase: pred for _, phrase, _, pred in RELATION_PATTERNS}


def all_surfaces(n_entities: int = 500) -> tuple[str, ...]:
    out: list[str] = []
    for e in make_gazetteer(n_entities):
        out.extend(e.surfaces)
    return tuple(out)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    n_entities: int = 500,
    lang: str = "en",
    open_vocab: bool = False,
    mention_entities: int | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns stage DataFrames.

    Stages are parquet snapshots under ``workdir``.

    Raises ``ValueError`` when the workdir holds an ``s1_text`` snapshot
    without the ``pairs`` column (written before S1 and S2 were one pass).
    """
    runner = StageRunner(spark, workdir)

    # S1 + S2 — text and gazetteer mention pairs, one Python pass (filter
    # first so non-target languages never cross the Arrow boundary). The
    # detector vocabulary (mention_entities) may exceed the link KB
    # (n_entities) — the open-vocabulary case where recognition outruns
    # the knowledge base; S3's CC canonicalizer absorbs the difference.
    # s1_text commits (url, text, pairs) and is the resume point; S2 is a
    # JVM explode of the committed pairs.
    s1 = runner.stage(
        "s1_text",
        lambda: text_and_mention_pairs(
            pages.where(F.col("lang") == lang),
            all_surfaces(mention_entities or n_entities),
            phrase_map(),
        ),
    )
    if "pairs" not in s1.columns:
        raise ValueError(
            f"{os.path.join(workdir, 's1_text')}: snapshot has no 'pairs' "
            "column (written before S1 and S2 were one pass); delete it to rebuild"
        )
    s2 = runner.stage("s2_mentions", lambda: explode_pairs(s1))

    # S3 — linking. Exact gazetteer dimension join (broadcast) resolves
    # known surfaces; with open_vocab=True the residual surfaces go
    # through the north-star canonicalizer — MinHash-LSH blocking over
    # char shingles + iterative connected components — and join the link
    # dimension with their CC-canonical form (lexicographic component
    # minimum). The committed s3_links snapshot is a small parquet read,
    # so both broadcast copies (subj/obj side) read it directly.
    def build_links() -> DataFrame:
        links = gazetteer_df(spark, n_entities).select("surface", "canonical")
        if open_vocab:
            from ..operators.linking import canonicalize_surfaces

            seen = (
                s2.select(F.col("subj_surface").alias("surface"))
                .union(s2.select(F.col("obj_surface").alias("surface")))
                .distinct()
            )
            unknown = seen.join(links.select("surface"), "surface", "left_anti")
            extra = canonicalize_surfaces(unknown, threshold=0.5)
            links = links.unionByName(extra)
        return links

    s3_links = runner.stage("s3_links", build_links)
    s3 = runner.stage(
        "s3_triples", lambda: triples_from_mention_pairs(s2, s3_links)
    )

    # S4 — property-graph materialization + features
    nodes, edges = graph_from_triples(s3)
    s4_nodes = runner.stage("s4_nodes", lambda: nodes)
    s4_edges = runner.stage("s4_edges", lambda: edges)

    s5_struct = runner.stage(
        "s5_struct_features",
        lambda: structural_features(s4_nodes, s4_edges),
    )
    s5_intents = runner.stage(
        "s5_char_sets",
        lambda: characteristic_sets(s4_nodes, s4_edges),
    )

    # S6 — concept hierarchy over characteristic-set intents (F3 is the
    # natural FCA intent per SURVEY §2.2). build_hierarchy is memoized so
    # the two S6 snapshots share one lattice construction (and zero when
    # both stages resume from checkpoint).
    _h_cache: dict[str, dict] = {}

    def _hierarchy() -> dict:
        if "h" not in _h_cache:
            _h_cache["h"] = build_hierarchy(
                s5_intents.select(
                    F.col("id").alias("instance_id"),
                    F.col("rel_types").alias("intent"),
                )
            )
        return _h_cache["h"]

    s6_concepts = runner.stage(
        "s6_concepts",
        lambda: _hierarchy()["concepts"].select(
            "concept_id", "parent_id", "depth", "label", "count",
            F.col("intent"), "is_leaf",
        ),
    )
    s6_assign = runner.stage("s6_assignments", lambda: _hierarchy()["assignments"])

    runner.write_run_metrics()
    return {
        "text": s1.select("url", "text"),
        "mention_pairs": s2,
        "triples": s3,
        "nodes": s4_nodes,
        "edges": s4_edges,
        "struct_features": s5_struct,
        "intents": s5_intents,
        "concepts": s6_concepts,
        "assignments": s6_assign,
        "metrics": runner.metrics,
    }
