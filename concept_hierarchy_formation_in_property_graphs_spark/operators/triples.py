"""Triple emission — the reference's record→typed-edges "extraction".

Two shapes:

1. :func:`emit_record_triples` — the graft of the Yelp Cypher importer
   (`src/main/cypher/load_yelp.cql:1-111`): one input record fans out into
   typed (subj, pred, obj) edges, one ``select`` per relation kind, unioned;
   NULL guards mirror the ``FOREACH (ignoreMe IN CASE WHEN x IS NULL ...)``
   pattern; ``MERGE`` dedup becomes ``dropDuplicates``. Array-valued columns
   (categories/attributes) explode into one triple per element.

2. :func:`triples_from_mention_pairs` — free-text mention pairs joined to a
   broadcast surface→canonical link table (S3 output) to produce canonical
   triples.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def emit_record_triples(
    df: DataFrame,
    subj_col: str,
    relations: Sequence[tuple[str, str]],
    explode_relations: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """records → distinct triples(subj, pred, obj).

    relations: (pred, scalar obj column); NULL objects emit nothing
    (load_yelp.cql's CASE WHEN guards). explode_relations: (pred, array
    column) — one triple per element. All values stringified, mirroring
    NominalValue coercion (`algos/NominalValue.java:10-56`).
    """
    parts = []
    subj = F.col(subj_col).cast("string")
    for pred, obj_col in relations:
        parts.append(
            df.where(F.col(obj_col).isNotNull()).select(
                subj.alias("subj"),
                F.lit(pred).alias("pred"),
                F.col(obj_col).cast("string").alias("obj"),
            )
        )
    for pred, arr_col in explode_relations:
        parts.append(
            df.select(subj.alias("subj"), F.explode(arr_col).alias("obj"))
            .where(F.col("obj").isNotNull())
            .select("subj", F.lit(pred).alias("pred"), F.col("obj").cast("string"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["subj", "pred", "obj"])


def triples_from_mention_pairs(pairs: DataFrame, links: DataFrame) -> DataFrame:
    """(url, subj_surface, pred, obj_surface) × links(surface, canonical)
    → distinct (subj, pred, obj).

    ``links`` is a dimension (≤ millions of surface forms even at corpus
    scale) — broadcast both joins; zero shuffles of the fact side until the
    final distinct, which AQE coalesces.
    """
    l1 = F.broadcast(links.select(F.col("surface").alias("subj_surface"),
                                  F.col("canonical").alias("subj")))
    l2 = F.broadcast(links.select(F.col("surface").alias("obj_surface"),
                                  F.col("canonical").alias("obj")))
    return (
        pairs.join(l1, "subj_surface")
        .join(l2, "obj_surface")
        .select("subj", "pred", "obj")
        .dropDuplicates(["subj", "pred", "obj"])
    )
