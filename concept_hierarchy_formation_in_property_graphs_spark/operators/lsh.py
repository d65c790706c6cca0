"""MinHash-LSH blocking — the one implementation behind every near-dup path.

Text dedup (`operators/dedup`), surface canonicalization
(`operators/linking`) and embedding near-dup (`operators/similarity`) all
block the same way; each brings its own item sets (or, for embeddings, its
own sign-bit band keys) and a fixed hot-bucket policy:

    minhash(sets)           (id, items)              -> (id, sig array<long>)
    band_keys(sigs)         (id, sig)                -> (id, band_idx, band_hash)
    bucket_pairs(banded)    (id, band_idx, band_hash) -> distinct (id_a, id_b)
    jaccard_verify(pairs)   (id_a, id_b) + sets      -> (id_a, id_b, jaccard)

Every hash is the portable md5 family (functions/hashing.py), so each
step has a value-identical DuckDB twin in queries.py; no Python UDFs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, perm_coeffs, permuted

_log = logging.getLogger(__name__)


def minhash(sets: DataFrame, num_perm: int) -> DataFrame:
    """(id, items array<string>) → (id, sig array<long>): per permutation
    the min of ``permuted(md5_long(item))``. explode → min-agg is one
    shuffle with map-side partial mins. Rows with no items get no sig.

    The explode runs over ``array_distinct(items)``, not the bare column:
    from a bare exploded column Spark infers a ``size(items) > 0`` filter
    and pushes it below the caller's projection, which then evaluates the
    shingler twice per row (measured +30% on dd_minhash_signatures).
    """
    h = sets.select(
        "id", F.explode(F.array_distinct("items")).alias("item")
    ).withColumn("h", md5_long(F.col("item")))
    return h.groupBy("id").agg(
        F.array(
            *[F.min(permuted(F.col("h"), a, b)) for a, b in perm_coeffs(num_perm)]
        ).alias("sig")
    )


def band_keys(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, sig) → (id, band_idx, band_hash): band hash = md5 over the
    '|'-joined decimal band slice — portable to the DuckDB oracle (same
    string, same md5); never xxhash64 in anything oracled."""
    r = num_perm // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws(
                    "|", *[F.col("sig")[i * r + j].cast("string") for j in range(r)]
                ))
                for i in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )


def bucket_pairs(banded: DataFrame, max_bucket: int = 0,
                 chain: bool = False) -> DataFrame:
    """Ids sharing a (band_idx, band_hash) bucket → distinct (id_a, id_b),
    id_a < id_b.

    The self-join key is high-cardinality, so it hash-partitions evenly
    and AQE skew-join splits a hot bucket. ``max_bucket`` > 0 bounds the
    quadratic (a bucket of B ids yields B·(B−1)/2 pairs) with the caller's
    policy for buckets over the cap:

    - by default they are dropped — the web-corpus boilerplate guard; a
      pair lost in one band still surfaces through the other bands;
    - ``chain=True`` sorts each by id and pairs every member with its two
      predecessors (≈2B pairs), so a mega-cluster stays connected at
      linear cost. The chain follows id order, not similarity, so after
      verify one component could split — that needs two consecutive
      failed links, the accepted price of skipping the quadratic join.
      The number of chained buckets is logged.
    """
    extra = None
    if max_bucket > 0:
        sizes = banded.groupBy("band_idx", "band_hash").agg(
            F.count("*").alias("_bsz")
        )
        sized = banded.join(sizes, ["band_idx", "band_hash"])
        if chain:
            n_hot = sizes.where(F.col("_bsz") > max_bucket).count()
            if n_hot:
                _log.warning(
                    "bucket_pairs: chaining %d buckets larger than %d "
                    "instead of self-joining them", n_hot, max_bucket,
                )
            w = Window.partitionBy("band_idx", "band_hash").orderBy("id")
            hot = sized.where(F.col("_bsz") > max_bucket).select(
                "id",
                F.lag("id", 1).over(w).alias("_p1"),
                F.lag("id", 2).over(w).alias("_p2"),
            )
            extra = (
                hot.select(F.col("_p1").alias("id_a"), F.col("id").alias("id_b"))
                .unionByName(hot.select(F.col("_p2").alias("id_a"), F.col("id").alias("id_b")))
                .where(F.col("id_a").isNotNull())
            )
        banded = sized.where(F.col("_bsz") <= max_bucket).drop("_bsz")
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_idx", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if extra is not None:
        pairs = pairs.unionByName(extra)
    return pairs.distinct()


def jaccard_verify(pairs: DataFrame, sets: DataFrame, threshold: float,
                   sets_b: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard of each candidate pair's item sets; keep ≥ threshold.

    ``sets`` (id, items) serves both ends unless ``sets_b`` gives the
    ``id_b`` end its own table (incremental ingest: history vs. batch).
    A pair whose union is empty is skipped rather than divided (Spark runs
    ANSI); the union is empty iff both sets are, so ``uni > 0`` is checked
    on the two sizes — a second array_union per pair measured +20%.
    """
    sets_b = sets if sets_b is None else sets_b
    return (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("items").alias("s_a")), "id_a")
        .join(sets_b.select(F.col("id").alias("id_b"), F.col("items").alias("s_b")), "id_b")
        .where(F.size("s_a") + F.size("s_b") > 0)
        .withColumn("inter", F.size(F.array_intersect("s_a", "s_b")))
        .withColumn("uni", F.size(F.array_union("s_a", "s_b")))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
