"""Batch-incremental + streaming ingestion dedup.

The contract: ingesting a corpus in doc_id-ordered batches against the
persisted seen store retains EXACTLY the same documents as a single-shot
run over the full corpus — the incremental path is lossless and
re-batchable (any split gives the same result), and every per-batch write
is replay-idempotent (at-least-once foreachBatch safety).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
    dedup_exact,
    ingest_batch_exact,
    ingest_batch_near_dup,
    load_retained,
    minhash_near_dup_pairs,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
    run_dedup_stream,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def store():
    d = tempfile.mkdtemp(prefix="chf_dedup_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark):
    """documents plus planted exact duplicates (the fixture has none):
    docs 0..9 reappear with doc_ids 1000+ — i.e. in the LAST batch of
    every split used below, so cross-batch dropping is actually exercised."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 50
    )
    return base.unionByName(
        base.where(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )


def _batches(docs, bounds):
    lo = 0
    for hi in bounds:
        yield docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        lo = hi
    yield docs.where(F.col("doc_id") >= lo)


def _ids(df) -> set:
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_incremental_exact_equals_single_shot(spark, store):
    docs = _docs(spark)
    for i, b in enumerate(_batches(docs, [20, 35])):
        ingest_batch_exact(b, store, i)
    assert _ids(load_retained(spark, store)) == _ids(dedup_exact(docs))


def test_incremental_exact_rebatch_invariant(spark, store):
    docs = _docs(spark)
    other = tempfile.mkdtemp(prefix="chf_dedup_store2_")
    try:
        for i, b in enumerate(_batches(docs, [10, 20, 30, 40])):
            ingest_batch_exact(b, store, i)
        for i, b in enumerate(_batches(docs, [25])):
            ingest_batch_exact(b, other, i)
        assert _ids(load_retained(spark, store)) == _ids(
            load_retained(spark, other)
        )
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_incremental_near_dup_equals_full_corpus_formula(spark, store):
    docs = _docs(spark)
    kw = dict(num_perm=16, bands=8, threshold=0.7)
    for i, b in enumerate(_batches(docs, [20, 35])):
        ingest_batch_near_dup(b, store, i)
    pairs = minhash_near_dup_pairs(docs, **kw)
    dropped = {r["id_b"] for r in pairs.select("id_b").collect()}
    expect = _ids(docs) - dropped
    assert _ids(load_retained(spark, store)) == expect
    assert dropped, "fixture has no near-dups; test is vacuous"


def test_replay_idempotent(spark, store):
    """Re-running a committed batch (at-least-once replay) must leave the
    retained set and the seen store identical — per-batch overwrite dirs,
    never append."""
    docs = _docs(spark)
    b0, b1 = list(_batches(docs, [25]))
    ingest_batch_exact(b0, store, 0)
    ingest_batch_exact(b1, store, 1)
    once = _ids(load_retained(spark, store))
    ingest_batch_exact(b1, store, 1)  # replay of the last batch
    assert _ids(load_retained(spark, store)) == once
    # replaying an OLD batch must not see later batches' hashes as history
    ingest_batch_exact(b0, store, 0)
    assert _ids(load_retained(spark, store)) == once


def test_streaming_dedup_equals_batch(spark, store):
    """File-source stream, one file per micro-batch → retained corpus ==
    single-shot exact dedup (foreachBatch twin of the batch ingest)."""
    docs = _docs(spark)
    src = tempfile.mkdtemp(prefix="chf_dedup_src_")
    try:
        # stage doc_id-ordered files; lexicographic filename order matches
        for i, b in enumerate(_batches(docs, [20, 35])):
            b.coalesce(1).write.mode("overwrite").parquet(f"{src}/seq={i}")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_dedup_stream(stream, store)
        # micro-batch ARRIVAL order isn't contractual for a file stream, so
        # assert the order-independent invariant: exactly one survivor per
        # distinct text, none lost
        retained = load_retained(spark, store)
        n_texts = docs.select("text").distinct().count()
        assert retained.count() == n_texts
        assert retained.select("text").distinct().count() == n_texts
        assert retained.count() < docs.count(), "no dups dropped; vacuous"
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_dedup_with_periodic_compaction(spark, store):
    """compact_every=2 during a 5-micro-batch stream: retained corpus
    unchanged vs the uncompacted stream semantics (one survivor per
    distinct text), a committed generation exists, and the history reads
    few paths instead of one per batch."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
        _committed_gens,
        _history_paths,
    )

    docs = _docs(spark)
    src = tempfile.mkdtemp(prefix="chf_dedup_src_")
    try:
        for i, b in enumerate(_batches(docs, [10, 20, 30, 40])):
            b.coalesce(1).write.mode("overwrite").parquet(f"{src}/seq={i}")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_dedup_stream(stream, store, compact_every=2)
        retained = load_retained(spark, store)
        n_texts = docs.select("text").distinct().count()
        assert retained.count() == n_texts
        assert retained.select("text").distinct().count() == n_texts
        assert _committed_gens(store, "seen"), "no generation was committed"
        # 5 batches ingested; history collapses to generation + loose tail
        assert len(_history_paths(store, "seen", float("inf"))) <= 3
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_compact_store_preserves_semantics(spark, store):
    """~50 ingested batches → compact → retained set unchanged, the
    history scan reads far fewer dirs/files, and the NEXT ingest against
    the compacted store still drops exactly what it would have dropped
    (committed-generation authority, loose newest batch preserved)."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
        _history_paths,
        compact_store,
        dedup_exact,
    )

    docs = _docs(spark)
    base = docs.where(F.col("doc_id") < 1000)
    dup_tail = docs.where(F.col("doc_id") >= 1000)  # copies of docs 0..9
    ids = sorted(r.doc_id for r in base.select("doc_id").collect())
    bounds = ids[1::1]  # one doc per batch → ~50 batches
    for i, b in enumerate(_batches(base, bounds)):
        ingest_batch_exact(b, store, i)
    n_batches = i + 1
    assert n_batches >= 40
    before = _ids(load_retained(spark, store))
    paths_before = len(_history_paths(store, "seen", float("inf")))

    stats = compact_store(spark, store)
    assert stats["seen"]["covered"] == n_batches - 2
    assert stats["seen"]["files_after"] < stats["seen"]["files_before"]

    paths_after = len(_history_paths(store, "seen", float("inf")))
    assert paths_after == 2  # one generation + the loose newest batch
    assert paths_after < paths_before
    assert _ids(load_retained(spark, store)) == before

    # ingest one more batch (all exact dups of history) post-compaction
    retained = ingest_batch_exact(dup_tail, store, n_batches)
    assert retained.count() == 0
    assert _ids(load_retained(spark, store)) == _ids(dedup_exact(docs))


def test_compact_store_idempotent_and_crash_safe(spark, store):
    """A second compact is a no-op; a crash AFTER the generation commit
    but BEFORE cleanup (simulated by re-creating a consumed loose dir)
    must not double-count — the committed generation is the authority."""
    import os

    from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
        _history_paths,
        compact_store,
    )

    docs = _docs(spark)
    for i, b in enumerate(_batches(docs, [10, 20, 30, 40])):
        ingest_batch_exact(b, store, i)
    before = _ids(load_retained(spark, store))
    stats1 = compact_store(spark, store)
    assert "seen" in stats1
    assert compact_store(spark, store) == {}  # already covered → no-op

    # crashed-cleanup simulation: a stale loose dir at/below the cover
    covered = stats1["retained"]["covered"]
    stale = os.path.join(store, "retained", "b0")
    spark.read.parquet(os.path.join(store, "retained", f"g{covered}")) \
        .limit(1).write.mode("overwrite").parquet(stale)
    assert stale not in _history_paths(store, "retained", float("inf"))
    assert _ids(load_retained(spark, store)) == before
