"""S3 — entity linking + surface-form canonicalization.

Stages (per BASELINE.json north_star):
  1. exact gazetteer link (broadcast dimension join, inline in
     `plans/pipeline.py` S3),
  2. MinHash-LSH blocking over character-3-gram shingles for residual
     surfaces — candidate pairs only form inside an LSH band bucket, so the
     all-pairs O(n²) never materializes,
  3. pairwise Jaccard verification on the blocked candidates,
  4. iterative connected components (small-star min-propagation, driver
     loop, localCheckpoint per iteration to cut lineage) → canonical id =
     lexicographically smallest member of each component.

Everything is DataFrame ops + the portable md5 hash family
(functions/hashing.py); no Python UDFs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, perm_coeffs, permuted

_log = logging.getLogger(__name__)


def char_shingles(col, n: int = 3):
    """Distinct character n-grams of lower(trimmed string) — pure SQL:
    sequence over offsets + transform + array_distinct (codegen'd)."""
    s = F.lower(F.trim(col))
    cnt = F.greatest(F.length(s) - (n - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: s.substr(i, F.lit(n)))
    return F.array_distinct(grams)


def minhash_signature(df: DataFrame, text_col: str, out_col: str = "sig",
                      num_perm: int = 16, shingle_n: int = 3) -> DataFrame:
    """Attach an array<long> MinHash signature over char shingles."""
    exploded = (
        df.select(text_col)
        .distinct()
        .withColumn("gram", F.explode(char_shingles(F.col(text_col), shingle_n)))
        .withColumn("h", md5_long(F.col("gram")))
    )
    aggs = [
        F.min(permuted(F.col("h"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(perm_coeffs(num_perm))
    ]
    sigs = exploded.groupBy(text_col).agg(*aggs).select(
        text_col, F.array(*[F.col(f"mh{i}") for i in range(num_perm)]).alias(out_col)
    )
    return df.join(sigs, text_col, "left")


def lsh_candidate_pairs(df: DataFrame, id_col: str, sig_col: str = "sig",
                        num_perm: int = 16, bands: int = 4,
                        max_bucket: int = 0) -> DataFrame:
    """Band the signature; ids sharing a band bucket become candidate pairs.

    The self-join runs on (band_idx, band_hash) — high-cardinality keys, so
    it hash-partitions evenly; AQE skew-join splits any hot bucket (a giant
    cluster of near-identical strings is the skew case here). ``max_bucket``
    > 0 bounds the quadratic: buckets larger than the cap are CHAINED
    instead of self-joined — sorted by id, each member pairs with its two
    predecessors (≈2B pairs instead of B·(B−1)/2). Unlike the dedup guard
    (`dedup.minhash_near_dup_pairs`), which drops hot buckets outright,
    chaining keeps bucket members connected at linear rather than
    quadratic cost — a boilerplate mega-cluster of near-identical surfaces
    still collapses to one canonical form. Chain pairs still pass through
    the exact-Jaccard verify, and the id ordering is lexicographic, NOT
    similarity order, so post-verify connectivity is BEST-EFFORT once the
    cap triggers: a single failed chain link could split a component the
    full self-join would keep. The 2-predecessor redundancy means a split
    needs two consecutive verify failures; accepting that residual risk is
    the cap's explicit trade (the alternative is the quadratic join). The
    number of chained buckets is logged.
    """
    rows_per_band = num_perm // bands
    # band hash = md5 over the '|'-joined band slice — portable to the
    # DuckDB oracle (same string, same md5), like the dedup twin;
    # never xxhash64 in anything oracled
    banded = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.md5(
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(F.col(sig_col), i * rows_per_band + 1,
                                    rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    )
                )
                for i in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )
    if max_bucket > 0:
        sizes = banded.groupBy("band_idx", "band_hash").agg(
            F.count("*").alias("_bsz")
        )
        n_hot = sizes.where(F.col("_bsz") > max_bucket).count()
        if n_hot:
            _log.warning(
                "lsh_candidate_pairs: chaining %d buckets larger than %d "
                "instead of self-joining them", n_hot, max_bucket,
            )
        sized = banded.join(sizes, ["band_idx", "band_hash"])
        banded = sized.where(F.col("_bsz") <= max_bucket).drop("_bsz")
        hot = sized.where(F.col("_bsz") > max_bucket).drop("_bsz")
        w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
        # 2-predecessor chain: one verify-failed link alone cannot split
        # the component (see docstring)
        hot2 = hot.withColumn("_p1", F.lag(id_col, 1).over(w)).withColumn(
            "_p2", F.lag(id_col, 2).over(w)
        )
        chained = (
            hot2.where(F.col("_p1").isNotNull())
            .select(F.col("_p1").alias("src"), F.col(id_col).alias("dst"))
            .unionByName(
                hot2.where(F.col("_p2").isNotNull()).select(
                    F.col("_p2").alias("src"), F.col(id_col).alias("dst")
                )
            )
        )
    else:
        chained = None
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst"))
    )
    if chained is not None:
        pairs = pairs.unionByName(chained)
    return pairs.distinct()


def jaccard_verify(pairs: DataFrame, df: DataFrame, id_col: str, text_col: str,
                   threshold: float = 0.6, shingle_n: int = 3) -> DataFrame:
    """Exact char-shingle Jaccard on candidate pairs; keep >= threshold."""
    sh = df.select(
        F.col(id_col), char_shingles(F.col(text_col), shingle_n).alias("grams")
    )
    a = sh.select(F.col(id_col).alias("src"), F.col("grams").alias("g_src"))
    b = sh.select(F.col(id_col).alias("dst"), F.col("grams").alias("g_dst"))
    return (
        pairs.join(a, "src").join(b, "dst")
        .withColumn("inter", F.size(F.array_intersect("g_src", "g_dst")))
        .withColumn("uni", F.size(F.array_union("g_src", "g_dst")))
        .where(F.col("uni") > 0)
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def connected_components(edges: DataFrame, spark: SparkSession | None = None,
                         max_iter: int = 25) -> DataFrame:
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
    sym = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("id"))
        .union(sym.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    sym = sym.localCheckpoint(eager=True)
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


def canonicalize_surfaces(surfaces: DataFrame, threshold: float = 0.6,
                          num_perm: int = 16, bands: int = 16,
                          max_bucket: int = 256) -> DataFrame:
    """surfaces(surface) → (surface, canonical) via LSH + CC.

    canonical = lexicographically smallest surface in each component
    (deterministic, order-free — a correctness upgrade over the reference's
    shuffled insertion order, documented divergence per SURVEY §2.1 O1).

    Default bands = num_perm (1 row/band): candidate recall at the moderate
    Jaccard levels alias pairs sit at (~0.4-0.6) stays >0.999; precision is
    restored by the exact-Jaccard verify, so extra candidates only cost the
    (band-bucketed, skew-safe) join.
    """
    uniq = surfaces.select("surface").distinct()
    with_sig = minhash_signature(uniq, "surface", num_perm=num_perm)
    pairs = lsh_candidate_pairs(
        with_sig, "surface", num_perm=num_perm, bands=bands, max_bucket=max_bucket
    )
    verified = jaccard_verify(pairs, uniq, "surface", "surface", threshold)
    comps = connected_components(verified.select("src", "dst"))
    # component label is the min surface string already (labels are surfaces)
    linked = comps.select(F.col("id").alias("surface"), F.col("component").alias("canonical"))
    return (
        uniq.join(linked, "surface", "left")
        .select("surface", F.coalesce("canonical", "surface").alias("canonical"))
    )
