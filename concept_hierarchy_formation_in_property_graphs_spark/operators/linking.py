"""S3 — entity linking + surface-form canonicalization.

Stages (per BASELINE.json north_star):
  1. exact gazetteer link (broadcast dimension join, inline in
     `plans/pipeline.py` S3),
  2. MinHash-LSH blocking over character-3-gram shingles for residual
     surfaces (operators/lsh.py) — candidate pairs only form inside an LSH
     band bucket, so the all-pairs O(n²) never materializes; buckets over
     ``max_bucket`` are CHAINED, not dropped, so a mega-cluster of
     near-identical surfaces still collapses to one canonical form,
  3. pairwise Jaccard verification on the blocked candidates,
  4. iterative connected components (small-star min-propagation, driver
     loop, localCheckpoint per iteration to cut lineage) → canonical id =
     lexicographically smallest member of each component.

Everything is DataFrame ops + the portable md5 hash family
(functions/hashing.py); no Python UDFs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lsh import band_keys, bucket_pairs, jaccard_verify, minhash

_log = logging.getLogger(__name__)

# Surface LSH: 1 row per band, so candidate recall at the moderate Jaccard
# levels alias pairs sit at (~0.4-0.6) stays >0.999; buckets past
# SURFACE_MAX_BUCKET members are chained, not dropped.
SURFACE_NUM_PERM = 16
SURFACE_BANDS = 16
SURFACE_MAX_BUCKET = 256


def char_shingles(col):
    """Distinct character 3-grams of lower(trimmed string) — pure SQL:
    sequence over offsets + transform + array_distinct (codegen'd)."""
    s = F.lower(F.trim(col))
    cnt = F.greatest(F.length(s) - 2, F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: s.substr(i, F.lit(3)))
    return F.array_distinct(grams)


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation CC over edges(src, dst) → (id, component).

    Driver-side loop (the reference's only iteration is also driver-side);
    each round is one shuffle; ``localCheckpoint`` truncates lineage so plan
    size stays O(1) across iterations — the standard Spark pattern for
    iterative graph algorithms without GraphX.

    Each round does (1) neighbour-min propagation and (2) path halving
    (label ← label's label, the pointer-doubling step of large/small-star
    style CC), so convergence is O(log diameter) rounds rather than
    O(diameter) — a pathological 100k-member chain needs ~2·17 rounds, not
    100k. Rather than silently truncate, the round count is logged and
    hitting ``max_iter`` without convergence raises (partial components
    would silently merge fewer aliases).
    """
    # checkpoint before deriving labels: round 1 reads labels three times
    # (neighbour join, path halving, changed check) and must not re-run
    # the upstream plan (the LSH blocking + verify) for each
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    converged = False
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # candidate = min(own, min over neighbours' labels)
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # path halving: jump to the label's own label (labels are node ids,
        # monotonically non-increasing within a component) — turns the
        # O(diameter) propagation into O(log diameter)
        new_labels = (
            new_labels.join(
                labels.select(
                    F.col("id").alias("component"), F.col("component").alias("_grand")
                ),
                "component",
                "left",
            )
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_grand"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    _log.info("connected_components: converged in %d rounds", rounds)
    return labels


def canonicalize_surfaces(surfaces: DataFrame, threshold: float = 0.6) -> DataFrame:
    """surfaces(surface) → (surface, canonical) via LSH + CC.

    canonical = lexicographically smallest surface in each component
    (deterministic, order-free — a correctness upgrade over the reference's
    shuffled insertion order, documented divergence per SURVEY §2.1 O1).

    The LSH setting is SURFACE_NUM_PERM / SURFACE_BANDS (1 row per band);
    precision is restored by the exact-Jaccard verify, so extra candidates
    only cost the (band-bucketed, skew-safe) join.
    """
    uniq = surfaces.select("surface").distinct()
    sets = uniq.select(
        F.col("surface").alias("id"), char_shingles(F.col("surface")).alias("items")
    )
    banded = band_keys(minhash(sets, SURFACE_NUM_PERM), SURFACE_NUM_PERM, SURFACE_BANDS)
    verified = jaccard_verify(
        bucket_pairs(banded, SURFACE_MAX_BUCKET, chain=True), sets, threshold
    )
    comps = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # component label is the min surface string already (labels are surfaces)
    linked = comps.select(F.col("id").alias("surface"), F.col("component").alias("canonical"))
    return (
        uniq.join(linked, "surface", "left")
        .select("surface", F.coalesce("canonical", "surface").alias("canonical"))
    )
