"""End-to-end KG-construction pipeline (BASELINE.json north_star):

  pages ─S1→ text ─S2→ mention pairs ─S3→ links ─S4→ triples + graph
        ─S5→ features/intents ─S6→ concept hierarchy

Every stage checkpoints through :class:`StageRunner` so a killed job
resumes from the last complete snapshot. The returned dict carries each
stage's DataFrame plus the stage metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.pages import RELATION_PATTERNS, make_gazetteer
from ..functions.mentions import extract_mention_pairs
from ..functions.text import with_extracted_text
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
    parallelism: int | None = None,
    open_vocab: bool = False,
    mention_entities: int | None = None,
    fmt: str = "parquet",
) -> dict:
    """Run (or resume) the full pipeline; returns stage DataFrames.

    ``parallelism`` sets the partition count for the CPU-bound pandas-UDF
    stages (S1 extraction, S2 mentions). Parquet splits input by BYTES
    (maxPartitionBytes / openCostInBytes bin-packing), which undercuts a
    compute-bound stage — a 16 MB input is one split even on 32 cores, and
    tiny stage outputs get packed into one partition. Defaults to
    2× defaultParallelism.
    """
    runner = StageRunner(spark, workdir, fmt=fmt)
    par = parallelism or spark.sparkContext.defaultParallelism * 2

    def _spread(df: DataFrame) -> DataFrame:
        # only pay the shuffle when the byte-based split is too coarse
        return df.repartition(par) if df.rdd.getNumPartitions() < par else df

    # S1 — boilerplate-stripped text (vectorized pandas UDF; filter first so
    # non-target languages never cross the Arrow boundary)
    s1 = runner.stage(
        "s1_text",
        lambda: with_extracted_text(
            _spread(pages.where(F.col("lang") == lang))
        ).select("url", "text"),
    )

    # S2 — gazetteer mention detection + relation patterns. The detector
    # vocabulary (mention_entities) may exceed the link KB (n_entities) —
    # the open-vocabulary case where recognition outruns the knowledge
    # base; S3's CC canonicalizer absorbs the difference.
    s2 = runner.stage(
        "s2_mentions",
        lambda: extract_mention_pairs(
            _spread(s1), all_surfaces(mention_entities or n_entities), phrase_map()
        ),
    )

    # S3 — linking. Exact gazetteer dimension join (broadcast) resolves
    # known surfaces; with open_vocab=True the residual surfaces go
    # through the north-star canonicalizer — MinHash-LSH blocking over
    # char shingles + iterative connected components — and join the link
    # dimension with their CC-canonical form (lexicographic component
    # minimum). localCheckpoint so the two broadcast copies (subj/obj
    # side) don't each re-evaluate the dimension plan.
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
    links = s3_links.localCheckpoint(eager=True)
    s3 = runner.stage(
        "s3_triples", lambda: triples_from_mention_pairs(s2, links)
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
        "text": s1,
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
