"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k (correctness baseline) and LSH/IVF-bucketed
approximate variants (scale path). Every ANN path builds its own join
(cross join, centroid lists, or sign buckets with their multi-probe list)
and hands it to the one scorer, ``_top_k``. Per-pair verify dots run
JVM-side via ``zip_with`` + ``aggregate`` in double precision; the
many-plane projections run as ONE Arrow-batched NumPy matmul per batch
against a closure-broadcast matrix (vectorized, no per-row Python):
``_sign_codes`` for random-hyperplane sign codes, ``_matmul_udf`` for the
IVF centroid scores. Catalyst evaluates a 32-plane expression tree mostly
interpreted, which was the round-2 hot spot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lsh import bucket_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _with_norm(embeddings: DataFrame, *extra) -> DataFrame:
    """Base side: (vec_id, embedding, nrm, *extra)."""
    return embeddings.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"), *extra
    )


def _query_side(base: DataFrame, query_ids: list[int], *extra) -> DataFrame:
    """Query side (tiny, broadcast by the caller): (query_id, q_emb, q_nrm,
    *extra) for the query rows of a ``_with_norm`` base."""
    return base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        *extra,
    )


def _top_k(joined: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, score4) over a base ⋈ query-side
    candidate join: cosine score, then a per-query top-k window. rank
    breaks ties by neighbor_id so output is engine-stable."""
    scored = joined.where(F.col("vec_id") != F.col("query_id")).withColumn(
        "score",
        _dot(F.col("embedding"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("score", 4).alias("score4"))
    )


def cosine_topk_bruteforce(embeddings: DataFrame, query_ids: list[int],
                           k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rank, score4) — exact top-k by cosine.

    Queries are a tiny dimension → broadcast; the big side streams through
    one codegen'd projection, then a per-query top-k window.
    """
    base = _with_norm(embeddings)
    return _top_k(base.crossJoin(F.broadcast(_query_side(base, query_ids))), k)


def _matmul_udf(matrix: "np.ndarray"):
    """array<double> pandas UDF: row-vector · matrixᵀ for every row of an
    Arrow batch in ONE NumPy matmul (the closure broadcasts the tiny
    plane/centroid matrix to every executor). Replaces per-plane
    aggregate(zip_with(...)) Catalyst expression trees, which Catalyst
    evaluates mostly interpreted and re-codegens per referencing branch —
    the round-2 similarity-family hot spot."""
    mat_t = np.ascontiguousarray(matrix.T)

    @F.pandas_udf("array<double>")
    def dots_udf(emb: pd.Series) -> pd.Series:
        m = np.asarray(emb.tolist(), dtype=np.float64)
        if m.size == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(m @ mat_t))

    return dots_udf


def _sign_codes(n_planes: int, bands: int, seed: int, dim: int):
    """array<int> pandas UDF: ``bands`` random-hyperplane sign codes per
    row. The planes are ``RandomState(seed).randn(n_planes, dim)``; band b
    covers planes [b·r, (b+1)·r) with r = n_planes // bands, and plane i
    of a band is bit i of its code. All sign dots of an Arrow batch are
    ONE NumPy matmul against the closure-broadcast plane matrix. Raises
    ``ValueError`` unless ``bands`` divides ``n_planes`` with 1 ≤ r ≤ 31
    (a code is a non-negative int32)."""
    if bands < 1 or n_planes % bands or not 1 <= n_planes // bands <= 31:
        raise ValueError(f"n_planes={n_planes} and bands={bands}: need bands | n_planes, r <= 31")
    planes_t = np.random.RandomState(seed).randn(n_planes, dim).T.copy()
    r = n_planes // bands
    weights = 1 << np.arange(r, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def sign_codes_udf(emb: pd.Series) -> pd.Series:
        m = np.asarray(emb.tolist(), dtype=np.float64)
        if m.size == 0:
            return pd.Series([], dtype=object)
        bits = (m @ planes_t >= 0.0).astype(np.int64)
        codes = (bits.reshape(-1, bands, r) * weights).sum(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    return sign_codes_udf


def _argmax_positions(scores, n: int) -> list:
    """1-based positions of the top-n entries of an array column, computed
    by iterative masking (codegen-friendly; mirrors the DuckDB twin's shape
    exactly, unlike a struct-sort which orders differently across engines)."""
    def _mask(prev, pos):
        return F.transform(
            prev,
            lambda x, i: F.when(i == pos - 1, F.lit(float("-inf"))).otherwise(x),
        )

    out = []
    cur = scores
    for _ in range(n):
        pos = F.array_position(cur, F.array_max(cur))
        out.append(pos)
        cur = _mask(cur, pos)
    return out


def ivf_ann(embeddings: DataFrame, query_ids: list[int], k: int = 5,
            n_centroids: int = 8, nprobe: int = 2, seed: int = 11,
            dim: int = 64) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions vectors into centroid
    lists; each query probes only its ``nprobe`` nearest lists.

    The centroids are a deterministic seeded random matrix (a production
    deployment would Lloyd-refine them offline and broadcast the result —
    the query-time plan is identical). At 100 TB the centroid id is a
    PARTITIONING KEY: the inverted lists can be written bucketed-by-
    centroid so a probe is a partition-pruned scan of nprobe/n_centroids
    of the data, no shuffle at query time.
    """
    cents = np.random.RandomState(seed).randn(n_centroids, dim)
    base = _with_norm(
        embeddings, _matmul_udf(cents)(F.col("embedding")).alias("cscores")
    ).withColumn(
        "centroid", F.array_position(F.col("cscores"), F.array_max("cscores"))
    ).localCheckpoint(eager=False)
    probes = _argmax_positions(F.col("cscores"), nprobe)
    queries = _query_side(
        base, query_ids, F.explode(F.array(*probes)).alias("centroid")
    )
    return _top_k(base.join(F.broadcast(queries), "centroid"), k)


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                             n_planes: int = 32, bands: int = 8,
                             seed: int = 19, dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: BANDED sign-pattern LSH
    blocking → exact cosine verify ≥ threshold on the blocked candidates.

    Per plane P[sign agrees] = 1 − θ/π; banding r = n_planes/bands planes
    per band gives candidate recall 1 − (1 − pʳ)ᵇ — ≈1.0 for true
    near-duplicates (cosine ≥ 0.9), ≈0.75 at the demo threshold 0.4 used
    on the synthetic embeddings (documented approximation; the oracle twin
    recomputes the SAME blocking, so the correctness gate is exact). The
    per-band bucket self-join is the MinHash paths' own
    (`lsh.bucket_pairs`), replacing the O(n²) cross join; it has no
    hot-bucket cap here, so a mega-cluster still costs B·(B−1)/2 pairs."""
    # The sign-bit band rows are skinny (vec_id, band_idx, band_hash), so
    # the shared bucket self-join never holds a vector, and a bucket is
    # pairs, not one row that grows with the corpus; cosine is verified
    # by joining the vectors back onto the distinct candidate pairs.
    banded = embeddings.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            _sign_codes(n_planes, bands, seed, dim)(F.col("embedding"))
        ).alias("band_idx", "band_hash"),
    )
    vecs = _with_norm(embeddings)
    a = vecs.toDF("id_a", "e_a", "n_a")
    b = vecs.toDF("id_b", "e_b", "n_b")
    return (
        bucket_pairs(banded).join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (_dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b")))
            .alias("score"),
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 4).alias("score4"))
    )


def lsh_bucketed_ann(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                     n_planes: int = 8, seed: int = 7,
                     dim: int | None = None,
                     multiprobe: bool = False) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket by sign pattern, search own bucket.

    The planes are a deterministic pseudo-random matrix generated from the
    seed (no runtime randomness); the bucket is the single-band
    ``_sign_codes`` code. At 100 TB the bucket join replaces the cross
    join — candidate count drops by ~2^n_planes. Pass ``dim`` explicitly
    to avoid the driver-side first() schema sniff.

    ``multiprobe=True`` additionally probes every Hamming-distance-1
    bucket (each sign bit flipped once): a true neighbour differs from the
    query in ≥1 plane with probability 1−pⁿ, and most misses differ in
    exactly one — Hamming-1 probing recovers them for (n_planes+1)× the
    candidate volume instead of the 2× of halving n_planes. The probe
    list lives on the (tiny, broadcast) query side; the big side is
    scanned once either way.
    """
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    # two plan branches (big side + query side) reference the bucketed
    # projection — materialize it once
    base = _with_norm(
        embeddings,
        _sign_codes(n_planes, 1, seed, dim)(F.col("embedding"))[0].alias("bucket"),
    ).localCheckpoint(eager=False)
    queries = _query_side(base, query_ids, F.col("bucket").alias("q_bucket"))
    if multiprobe:
        q = F.col("q_bucket")
        probes = F.array(q, *[q.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])
        queries = queries.select(
            "query_id", "q_emb", "q_nrm", F.explode(probes).alias("q_bucket")
        )
    return _top_k(
        base.join(F.broadcast(queries), F.col("bucket") == F.col("q_bucket")), k
    )
