"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real implementations live in
``concept_hierarchy_formation_in_property_graphs_spark.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from concept_hierarchy_formation_in_property_graphs_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive the property graph from the sf0.001 tables, extract
    characteristic-set intents and build the labeled concept/subsumption
    hierarchy (the reference's signature output)."""
    from pyspark.sql import functions as F

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.features import (
        characteristic_sets,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges = _q.tpch_edges(spark, sf_dir)
    cs = characteristic_sets(None, edges)
    h = build_hierarchy(
        cs.select(F.col("id").alias("instance_id"), F.col("rel_types").alias("intent"))
    )
    return h["concepts"].select(
        "concept_id", "parent_id", "depth", "label", "count", "is_leaf"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data-pipeline operators: dedup, similarity, text analysis)."""
    return _q.registry()


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every registered query. SQL-expressible queries
    recompute semantics relationally; the Python-pass / iterative pipeline
    stages compare against committed golden snapshots
    (tools/gen_goldens.py) — since round 3 every query is checked."""
    return _q.oracles()
