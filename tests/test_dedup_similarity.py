"""Dedup sketches + similarity search semantics on crafted corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    exact_jaccard_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.similarity import (
    _sign_codes,
    cosine_topk_bruteforce,
    lsh_bucketed_ann,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    docs = _docs(spark, ["same text", "same text", "other text", "same text"])
    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["keep_id"] == 0 and dups[0]["n_dups"] == 3
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [0, 2]


def test_minhash_signature_identical_for_permuted_tokens(spark):
    docs = _docs(spark, ["alpha beta gamma", "gamma alpha beta", "delta epsilon zeta"])
    sigs = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8)) for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # set semantics: order-insensitive
    assert sigs[0] != sigs[2]


def test_lsh_near_dup_matches_exact_jaccard(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",  # near-dup of 0
        "completely different content about spark engines here",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
    ]
    docs = _docs(spark, texts)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(docs, num_perm=16, bands=8, threshold=0.7).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=0.7).collect()
    }
    # LSH with 8 bands of 2 rows finds these high-sim pairs; jaccards agree
    assert (0, 3) in got and got[(0, 3)] == 1.0
    assert (0, 1) in got
    for k, v in got.items():
        assert exact[k] == v


def test_simhash_similar_texts_close(spark):
    docs = _docs(
        spark,
        [
            "spark shuffle partitions adaptive execution engine",
            "spark shuffle partitions adaptive execution framework",
            "ducks geese herons swans waterfowl migration patterns",
        ],
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ham01 = bin(h[0] ^ h[1]).count("1")
    ham02 = bin(h[0] ^ h[2]).count("1")
    assert ham01 < ham02


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(spark):
    emb = _emb(
        spark,
        [
            [1.0, 0.0, 0.0],  # q
            [0.9, 0.1, 0.0],  # closest
            [0.5, 0.5, 0.0],
            [0.0, 1.0, 0.0],  # orthogonal
            [-1.0, 0.0, 0.0],  # opposite
        ],
    )
    got = cosine_topk_bruteforce(emb, [0], k=3).collect()
    order = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]
    assert all(r["query_id"] == 0 for r in got)


def test_lsh_ann_scores_match_bruteforce_subset(spark):
    import random

    rng = random.Random(3)
    vecs = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(60)]
    emb = _emb(spark, vecs)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["score4"]
        for r in cosine_topk_bruteforce(emb, [0, 1], k=60).collect()
    }
    ann = lsh_bucketed_ann(emb, [0, 1], k=5, n_planes=4).collect()
    assert ann, "same-bucket candidates expected at 4 planes"
    for r in ann:
        assert bf[(r["query_id"], r["neighbor_id"])] == r["score4"]


def test_ivf_ann_partitions_and_probes(spark):
    """IVF: every vector lands in exactly one centroid list; each query's
    results come only from its nprobe probed lists, and scores agree with
    the brute-force cosine for those neighbors."""
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.similarity import (
        ivf_ann,
    )

    rng = random.Random(5)
    vecs = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(80)]
    emb = _emb(spark, vecs)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["score4"]
        for r in cosine_topk_bruteforce(emb, [0, 1], k=80).collect()
    }
    got = ivf_ann(emb, [0, 1], k=5, n_centroids=4, nprobe=2, seed=11, dim=16).collect()
    assert got, "nprobe=2 of 4 centroids must surface candidates"
    for r in got:
        assert bf[(r["query_id"], r["neighbor_id"])] == r["score4"]
    # with nprobe == n_centroids the probe covers everything: exact top-k
    full = ivf_ann(emb, [0], k=5, n_centroids=4, nprobe=4, seed=11, dim=16).collect()
    exact = cosine_topk_bruteforce(emb, [0], k=5).collect()
    assert sorted((r["neighbor_id"], r["rank"]) for r in full) == sorted(
        (r["neighbor_id"], r["rank"]) for r in exact
    )


def test_embedding_near_dup_banding_recall(spark):
    """Banded sign-LSH must catch planted near-duplicate embedding pairs
    (cosine ≈ 0.99) and never emit a pair below the verify threshold."""
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(9)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    vecs = []
    for v in base:
        vecs.append(v)
        vecs.append([x + rng.gauss(0, 0.02) for x in v])  # planted near-dup
    emb = _emb(spark, vecs)
    got = embedding_near_dup_pairs(
        emb, threshold=0.9, n_planes=32, bands=8, seed=19, dim=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    planted = {(2 * i, 2 * i + 1) for i in range(30)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.95, recall
    assert all(r["score4"] >= 0.9 for r in got)


def test_embedding_mega_bucket_matches_numpy_reference(spark):
    """A planted mega-cluster (300 near-identical vectors among random
    ones) shares every band bucket: the blocked pairs must equal a NumPy
    reference — pairs sharing any band hash with cosine ≥ threshold — and
    the plan must pair bucket members by self-join, never by collecting a
    bucket into one row that grows with the cluster."""
    import numpy as np

    from concept_hierarchy_formation_in_property_graphs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    dim, n_planes, bands, seed, threshold = 16, 32, 8, 19, 0.9
    rs = np.random.RandomState(5)
    hub = rs.randn(dim)
    vecs = np.vstack([hub + 0.01 * rs.randn(300, dim), rs.randn(200, dim)])
    vecs = vecs.astype(np.float32).astype(np.float64)  # the stored precision
    df = embedding_near_dup_pairs(
        _emb(spark, vecs.tolist()), threshold=threshold, n_planes=n_planes,
        bands=bands, seed=seed, dim=dim,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}

    planes = np.random.RandomState(seed).randn(n_planes, dim)
    r = n_planes // bands
    bits = (vecs @ planes.T >= 0.0).astype(np.int64).reshape(-1, bands, r)
    keys = (bits << np.arange(r)).sum(axis=2)
    share = (keys[:, None, :] == keys[None, :, :]).any(axis=2)
    nrm = np.linalg.norm(vecs, axis=1)
    cos = vecs @ vecs.T / np.outer(nrm, nrm)
    ia, ib = np.nonzero(np.triu(share & (cos >= threshold), k=1))
    want = set(zip(ia.tolist(), ib.tolist()))
    assert len(want) >= 300 * 299 // 2  # the whole cluster pairs up
    assert got == want


def test_lsh_multiprobe_dominates_single_probe(spark):
    """Hamming-1 probing must find a superset of single-probe results and
    strictly improve recall vs brute-force top-k on gaussian vectors."""
    import random

    rng = random.Random(11)
    vecs = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(120)]
    emb = _emb(spark, vecs)
    qs = [0, 1, 2]
    # k = n: compare the full CANDIDATE sets, not a top-k of them
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_ann(emb, qs, k=120, n_planes=6, dim=16).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_ann(
            emb, qs, k=120, n_planes=6, dim=16, multiprobe=True
        ).collect()
    }
    assert single <= multi
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, qs, k=5).collect()
    }
    assert len(multi & truth) > len(single & truth)


def test_sign_codes_fit_int32(spark):
    """A band code packs r = n_planes // bands sign bits into an int32:
    r = 32 would wrap the top bit negative and a split that leaves planes
    over would mix rows, so both raise; r = 31 codes stay non-negative."""
    with pytest.raises(ValueError, match="n_planes=32 and bands=1"):
        _sign_codes(32, 1, 0, 4)
    with pytest.raises(ValueError, match="n_planes=10 and bands=3"):
        _sign_codes(10, 3, 0, 4)
    emb = _emb(spark, [[1.0, 2.0, 3.0, 4.0], [-1.0, 0.5, -2.0, 1.0]])
    codes = emb.select(_sign_codes(62, 2, 0, 4)(F.col("embedding")).alias("c")).collect()
    assert all(len(r["c"]) == 2 and all(0 <= c < 2**31 for c in r["c"]) for r in codes)


def test_ngram_jaccard_is_order_sensitive(spark):
    """Word-3-gram shingles distinguish reshuffled text that a bag-of-words
    Jaccard scores as identical — the boilerplate-reshuffle case."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
        exact_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),   # identical
            (2, "dog lazy the over jumps fox brown quick the"),   # reshuffled
        ],
        "doc_id long, text string",
    )
    bag = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in exact_jaccard_pairs(docs, threshold=0.9).collect()}
    ngram = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert bag[(0, 1)] == 1.0 and bag[(0, 2)] == 1.0  # bag can't tell them apart
    assert ngram[(0, 1)] == 1.0 and (0, 2) not in ngram  # shingles can
