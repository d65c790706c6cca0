"""Deduplication operators over the ``documents`` table.

Exact (hash-groupBy), MinHash signatures + LSH banding (scale path, on the
shared blocking in operators/lsh.py), SimHash, and exact word-set / n-gram
Jaccard pairs (the small-scale gold standards the LSH path is validated
against). All hash math uses the portable md5 family
(functions/hashing.py) so every sketch is reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .lsh import band_keys, bucket_pairs, jaccard_verify, minhash

# The near-dup LSH setting shared by the batch pairs and incremental ingest,
# so ingesting in batches retains exactly the full-corpus survivors.
NEAR_DUP_NUM_PERM = 16
NEAR_DUP_BANDS = 8
NEAR_DUP_THRESHOLD = 0.7
COMPACT_SUBS = ("seen", "bands", "toks", "retained")
COMPACT_MAX_RECORDS_PER_FILE = 1_000_000


def _exact_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, keep_id, n_dups) for every distinct text: one
    map-side-combinable groupBy on md5(text), keeping the smallest doc_id
    so the result is deterministic."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keep_id, n_dups)."""
    return _exact_groups(docs).where(F.col("n_dups") > 1)


def dedup_exact(docs: DataFrame) -> DataFrame:
    """documents minus exact duplicates (keep the smallest doc_id)."""
    keep = _exact_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id")


def word_tokens(col) -> F.Column:
    return F.split(col, " ")


def word_ngrams(col, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles (space-joined) — the classic document
    dedup unit: order-sensitive, so reshuffled boilerplate stops matching
    where a bag-of-words Jaccard still would."""
    toks = word_tokens(col)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        max_id: int | None = None) -> DataFrame:
    """All-pairs exact word-N-GRAM Jaccard (order-sensitive gold standard;
    quadratic — gate with max_id at test scale, block with LSH at corpus
    scale)."""
    return _all_pairs_jaccard(docs, word_ngrams(F.col("text"), n), threshold, max_id)


def exact_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        max_id: int | None = None) -> DataFrame:
    """All-pairs exact word-set Jaccard (gold standard; quadratic — gate
    with max_id at test scale; the LSH path is the production variant)."""
    return _all_pairs_jaccard(docs, _word_set(), threshold, max_id)


def _all_pairs_jaccard(docs: DataFrame, items: F.Column, threshold: float,
                       max_id: int | None) -> DataFrame:
    """Every id_a < id_b pair of ``docs`` (cross join of the skinny ids),
    verified on the ``items`` shingles — the gold standards differ only
    in the shingler."""
    d = docs if max_id is None else docs.where(F.col("doc_id") < max_id)
    sets = d.select(F.col("doc_id").alias("id"), items.alias("items"))
    ids = sets.select("id")
    pairs = (
        ids.alias("a").crossJoin(ids.alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return _rounded(jaccard_verify(pairs, sets, threshold))


def _word_set() -> F.Column:
    return F.array_distinct(word_tokens(F.col("text")))


def _word_sets(docs: DataFrame) -> DataFrame:
    """(id, items): the distinct word tokens of each document."""
    return docs.select(F.col("doc_id").alias("id"), _word_set().alias("items"))


def _rounded(verified: DataFrame) -> DataFrame:
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def minhash_signatures(docs: DataFrame, num_perm: int = 8) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) over distinct word tokens.

    Wide-column output (not array) so the DuckDB oracle can reproduce each
    value independently.
    """
    return minhash(_word_sets(docs), num_perm).select(
        F.col("id").alias("doc_id"),
        *[F.col("sig")[i].alias(f"mh{i}") for i in range(num_perm)],
    )


def minhash_near_dup_pairs(docs: DataFrame, num_perm: int = NEAR_DUP_NUM_PERM,
                           bands: int = NEAR_DUP_BANDS,
                           threshold: float = NEAR_DUP_THRESHOLD,
                           max_bucket: int = 0) -> DataFrame:
    """Scale path: LSH banding → candidate pairs → exact Jaccard verify.

    ``max_bucket`` > 0 DROPS band buckets larger than the cap before the
    self-join (`lsh.bucket_pairs`) — the standard web-corpus guard against
    boilerplate mega-buckets, which otherwise go quadratic (one 100k-doc
    boilerplate bucket = 5e9 pairs).

    The banded projection appears up to 3× in the plan (bucket sizing +
    both self-join sides) but is NOT checkpointed: Spark's ReuseExchange
    dedupes the identical sub-plans at runtime (one signature computation),
    and an explicit localCheckpoint measured 3× SLOWER — it blocks that
    reuse and strips the stats AQE uses to pick broadcast joins. (Round-3
    finding; the static explain's scan count overstates the runtime scans
    here.)
    """
    sets = _word_sets(docs)
    banded = band_keys(minhash(sets, num_perm), num_perm, bands)
    return _rounded(jaccard_verify(bucket_pairs(banded, max_bucket), sets, threshold))


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash BIGINT): sign-aggregated token hash bits.

    Pure conditional sums — whole-stage codegen, no UDF; identical SQL runs
    in DuckDB.
    """
    toks = docs.select(
        "doc_id", F.explode(_word_set()).alias("tok")
    ).withColumn("h", md5_long(F.col("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Incremental ingestion dedup — the production shape at corpus scale: data
# arrives in batches (crawl snapshots, dumps), and each batch must be
# deduplicated against EVERYTHING already ingested without rescanning
# history. The reference's analogue is its incremental insertion contract
# (new observations update state; old ones are never revisited —
# PropertyGraphCobweb.java insertion loop); here the state is a persisted
# "seen" store instead of a tree.
#
# Store layout (mirrors operators/streaming.py's replay-safe versioning):
#   store_dir/seen/b{batch_id}/      exact-dedup: text hashes of the batch
#   store_dir/bands/b{batch_id}/     near-dup: LSH band keys of the batch
#   store_dir/toks/b{batch_id}/      near-dup: token sets (for verify)
#   store_dir/retained/b{batch_id}/  surviving rows of the batch
# Every write is a per-batch directory in overwrite mode, so an at-least-
# once replay of batch N rewrites rather than duplicates, and the parquet
# _SUCCESS marker is the commit point. History is only ever read through
# the committed markers.
#
# 100 TB shape: the store is the big side (all history) and a batch is the
# small side, so the ingest joins are written store-scan-once: the batch's
# keys are broadcast, the store is semi-join-filtered by them (never
# shuffled), and the small matched set is broadcast back as an anti-join
# filter on the batch. The store is plain per-batch parquet (no bucketing),
# so that semi join scans every committed history file once.
# ---------------------------------------------------------------------------


def committed_ids(parent: str, prefix: str) -> list[int]:
    """Sorted ids N of the ``<prefix>N`` dirs under ``parent`` whose parquet
    write committed (_SUCCESS marker) — the replay-safe source of truth for
    every versioned store: the dedup store's ``b{i}``/``g{hi}`` dirs and the
    hierarchy stream's ``state/v{N}``/``inst/b{N}`` dirs."""
    import os

    if not os.path.isdir(parent):
        return []
    return sorted(
        int(name[len(prefix):])
        for name in os.listdir(parent)
        if name.startswith(prefix)
        and name[len(prefix):].isdigit()
        and os.path.exists(os.path.join(parent, name, "_SUCCESS"))
    )


def _committed_gens(store_dir: str, sub: str) -> list[int]:
    """Sorted covered-up-to batch ids of committed compaction generations
    (``g{hi}`` dirs, each the union of every batch id <= hi)."""
    import os

    return committed_ids(os.path.join(store_dir, sub), "g")


def _history_paths(store_dir: str, sub: str, below: float) -> list[str]:
    """Committed store paths covering exactly the batch ids < ``below``:
    the newest applicable compaction generation (if any) plus the loose
    ``b{i}`` dirs above it. Loose dirs at or below a generation's cover
    are ignored even if a crashed compaction left them behind — the
    generation is the authority once its _SUCCESS exists."""
    import os

    gens = [g for g in _committed_gens(store_dir, sub) if g < below]
    g_hi = gens[-1] if gens else -1
    paths = (
        [os.path.join(store_dir, sub, f"g{g_hi}")] if gens else []
    )
    paths += [
        os.path.join(store_dir, sub, f"b{b}")
        for b in committed_ids(os.path.join(store_dir, sub), "b")
        if g_hi < b < below
    ]
    return paths


def _read_history(spark, store_dir: str, sub: str, below: int) -> DataFrame | None:
    """Union of committed history strictly below ``below`` (replays of
    batch N must not see N's own partial writes) — generation-aware."""
    paths = _history_paths(store_dir, sub, below)
    if not paths:
        return None
    return spark.read.parquet(*paths)


def compact_store(spark, store_dir: str) -> dict:
    """Compact an incremental-ingest store's accumulated per-batch dirs.

    After thousands of ingested batches the ``b{i}`` layout is a classic
    small-file problem: every ``_read_history`` scan pays one listing +
    footer per batch. This rewrites all committed batches STRICTLY BELOW
    the newest one into a single ``g{hi}`` generation dir (few large
    files), then removes the consumed ``b{i}`` dirs and superseded
    generations.

    Replay-idempotence is preserved by construction:

    - the newest committed batch stays loose, so a crash-replay of batch
      N (which must not see N's own writes) still reads exactly the ids
      < N — the generation covers only ids <= N−1;
    - the generation's own parquet ``_SUCCESS`` is its commit point;
      cleanup runs only after commit, and ``_history_paths`` ignores
      loose dirs at or below a committed generation's cover, so a crash
      between commit and cleanup double-counts nothing;
    - sequential batch ids (the ingest contract) guarantee no batch at
      or below ``hi`` can ever replay once batch ``hi+1`` has committed.

    Returns per-sub stats {sub: {covered, files_before, files_after}}.
    """
    import os
    import shutil

    stats: dict = {}
    for sub in COMPACT_SUBS:
        ids = committed_ids(os.path.join(store_dir, sub), "b")
        if len(ids) < 2:
            continue
        hi = ids[-2]
        if _committed_gens(store_dir, sub) and _committed_gens(store_dir, sub)[-1] >= hi:
            continue  # already covered
        paths = _history_paths(store_dir, sub, hi + 1)
        files_before = sum(
            1 for p in paths for f in os.listdir(p)
            if f.endswith(".parquet")
        )
        df = spark.read.parquet(*paths)
        n_rows = df.count()
        n_parts = max(1, -(-n_rows // COMPACT_MAX_RECORDS_PER_FILE))
        gdir = os.path.join(store_dir, sub, f"g{hi}")
        df.repartition(n_parts).write.mode("overwrite") \
            .option("maxRecordsPerFile", COMPACT_MAX_RECORDS_PER_FILE).parquet(gdir)
        # committed — now retire the consumed inputs
        for g in _committed_gens(store_dir, sub):
            if g < hi:
                shutil.rmtree(os.path.join(store_dir, sub, f"g{g}"))
        for b in ids:
            if b <= hi:
                shutil.rmtree(os.path.join(store_dir, sub, f"b{b}"))
        files_after = sum(
            1 for f in os.listdir(gdir) if f.endswith(".parquet")
        )
        stats[sub] = {
            "covered": hi,
            "files_before": files_before,
            "files_after": files_after,
        }
    return stats


def ingest_batch_exact(batch: DataFrame, store_dir: str, batch_id: int) -> DataFrame:
    """Exact-dedup one batch against the seen store; returns the retained
    rows (first-seen wins: min doc_id within the batch, drop anything whose
    text hash was seen in a committed earlier batch). Appends the batch's
    hashes to the store. Idempotent per batch_id (replay-safe).
    """
    import os

    spark = batch.sparkSession
    hashed = batch.withColumn("_h", F.md5(F.col("text")))
    in_batch_keep = hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
    seen = _read_history(spark, store_dir, "seen", batch_id)
    if seen is not None:
        # store-scan-once shape: broadcast the batch's keys into a semi join
        # on the store, broadcast the (small) matched set back as anti filter
        matched = seen.join(
            F.broadcast(in_batch_keep.select("_h")), "_h"
        ).select("_h").distinct()
        in_batch_keep = in_batch_keep.join(F.broadcast(matched), "_h", "left_anti")
    retained = hashed.join(
        in_batch_keep.select("doc_id"), "doc_id"
    ).drop("_h")
    hashed.select("_h").distinct().write.mode("overwrite").parquet(
        os.path.join(store_dir, "seen", f"b{batch_id}")
    )
    retained.write.mode("overwrite").parquet(
        os.path.join(store_dir, "retained", f"b{batch_id}")
    )
    return retained


def ingest_batch_near_dup(batch: DataFrame, store_dir: str, batch_id: int) -> DataFrame:
    """Near-dup novelty filter for one batch: a document is dropped iff it
    is an LSH-verified near-duplicate (word-set Jaccard ≥
    ``NEAR_DUP_THRESHOLD``) of any EARLIER document — a smaller doc_id in
    the same batch, or any document of a committed earlier batch, retained
    or not (dropped docs still suppress, exactly like a seen-set Bloom
    filter).

    Because the band keys are deterministic per document, ingesting a
    corpus in doc_id-ordered batches retains exactly the documents that are
    not the ``id_b`` of any pair in the full-corpus
    :func:`minhash_near_dup_pairs` at its default LSH setting —
    order-independent semantics, which is what makes the query oracle-able
    and the ingest safely re-batchable.

    Appends the batch's band keys + token sets to the store; idempotent per
    batch_id (replay-safe).
    """
    import os

    spark = batch.sparkSession
    new_sets = _word_sets(batch)
    new_bands = band_keys(minhash(new_sets, NEAR_DUP_NUM_PERM), NEAR_DUP_NUM_PERM,
                          NEAR_DUP_BANDS)
    # in-batch pairs: the batch self-join (small); drop the later id
    dropped = jaccard_verify(bucket_pairs(new_bands), new_sets, NEAR_DUP_THRESHOLD).select(
        F.col("id_b").alias("doc_id")
    )
    prev_bands = _read_history(spark, store_dir, "bands", batch_id)
    if prev_bands is not None:
        prev_toks = _read_history(spark, store_dir, "toks", batch_id)
        cand = (
            prev_bands.withColumnRenamed("doc_id", "id_a")
            .join(
                F.broadcast(new_bands.withColumnRenamed("id", "id_b")),
                ["band_idx", "band_hash"],
            )
            .select("id_a", "id_b")
            .distinct()
        )
        cross = jaccard_verify(
            cand, prev_toks.select(F.col("doc_id").alias("id"), F.col("toks").alias("items")),
            NEAR_DUP_THRESHOLD, sets_b=new_sets,
        )
        dropped = dropped.unionByName(cross.select(F.col("id_b").alias("doc_id")))
    dropped = dropped.distinct()
    retained = batch.join(dropped, "doc_id", "left_anti")
    new_bands.withColumnRenamed("id", "doc_id").write.mode("overwrite").parquet(
        os.path.join(store_dir, "bands", f"b{batch_id}")
    )
    new_sets.toDF("doc_id", "toks").write.mode("overwrite").parquet(
        os.path.join(store_dir, "toks", f"b{batch_id}")
    )
    retained.write.mode("overwrite").parquet(
        os.path.join(store_dir, "retained", f"b{batch_id}")
    )
    return retained


def load_retained(spark, store_dir: str) -> DataFrame:
    """Union of all committed retained batches (the deduplicated corpus)
    — generation-aware, so it reads compacted stores too."""
    paths = _history_paths(store_dir, "retained", float("inf"))
    if not paths:
        raise ValueError(f"no committed batches under {store_dir}")
    return spark.read.parquet(*paths)


def decontaminate(docs: DataFrame, bench_docs: DataFrame, n: int = 4) -> DataFrame:
    """Benchmark n-gram decontamination: flag training documents sharing
    any token n-gram with an evaluation/benchmark set.

    Returns (doc_id, n_hit_grams) for every contaminated training doc —
    the standard pre-training hygiene step (e.g. GPT-3 appendix C / PaLM:
    drop training docs with verbatim n-gram overlap against eval sets).

    Scale shape: the benchmark side is tiny relative to the corpus, so its
    distinct gram set is broadcast — the corpus side explodes its grams
    and hash-joins against the broadcast set WITHOUT shuffling, then
    aggregates hits keyed by doc_id (map-side combinable). The corpus
    table is scanned exactly once; no all-pairs anywhere.
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id"),
            F.explode(word_ngrams(F.col("text"), n)).alias("g"),
        )

    bench = grams(bench_docs).select("g").distinct()
    return (
        grams(docs)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("g")).alias("n_hit_grams"))
    )
