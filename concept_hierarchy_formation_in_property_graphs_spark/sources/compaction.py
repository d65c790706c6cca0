"""Small-file compaction + deterministic training-shard sink.

Two write-side layout tools a 100 TB pipeline cannot live without:

**Compaction.** Streaming ingests, incremental batches, and high-
parallelism writes all leave partition directories full of tiny files;
at scale the NameNode/object-store listing cost and per-file task
overhead dominate long before the data does. ``compact_table`` rewrites
a table so each Hive partition holds the fewest files that respect a
row cap: one shuffle keyed on the partition columns, then
``maxRecordsPerFile`` lets the writer split oversized partitions without
a second pass. This is the standard Spark compaction recipe — the
shuffle is paid once and every later scan reads big, sequential files.

**Training shards.** A training-data export wants (a) a deterministic
global shuffle — examples from the same crawl/domain must not cluster in
a shard — and (b) uniformly sized shard files a data loader can stripe
across workers. ``write_training_shards`` derives a stable 60-bit shuffle
key from the row's id columns (``portable_shard_key``, seeded md5, so
re-running the export is byte-for-byte reproducible, a new seed is a
fresh shuffle, and DuckDB recomputes the same assignment) and assigns ``shard = pmod(key, n_shards)`` **explicitly** —
NOT via ``repartitionByRange``, whose sampled range boundaries depend on
the RDD id and therefore change between runs of the same job. Each shard
is hash-clustered into a single task and written as one file under a
Hive ``shard=K/`` directory, sorted by the shuffle key. No ``rand()``
anywhere: the layout is a pure function of (input rows, id columns,
seed, n_shards), which is what makes resumable / auditable exports
possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

_SHUFFLE_KEY = "__shard_key"


def portable_shard_key(id_cols: list[str], seed: int) -> Column:
    """Seeded 60-bit shuffle key as ``md5('<id>:…:<seed>')`` — the md5
    family (functions/hashing.py) is value-identical in DuckDB, so shard
    assignment built on it is oracle-SQL-checkable (`pl_training_shards`).
    Slower than xxhash64 (hex + string concat) but still codegen'd."""
    parts = [F.col(c).cast("string") for c in id_cols] + [F.lit(str(seed))]
    return md5_long(F.concat_ws(":", *parts))


def compact_table(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Rewrite the table at ``src`` into ``dst`` with the minimum number
    of files per partition directory (1 + overflow under the row cap).

    Partitioned tables shuffle once on the partition columns so each
    partition's rows land in a single task; unpartitioned tables coalesce
    to the fewest partitions that respect ``max_records_per_file``.
    """
    df = spark.read.parquet(src)
    if partition_cols:
        writer = (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*partition_cols)
        )
    else:
        n_rows = df.count()
        n_parts = max(1, -(-n_rows // max_records_per_file))
        writer = (
            df.repartition(n_parts)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
        )
    writer.parquet(dst)


def files_per_partition(spark: SparkSession, path: str) -> dict[str, int]:
    """Data-file count per Hive partition directory ('' = unpartitioned),
    for compaction tests/audits."""
    import os

    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        n = sum(
            1 for f in files
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        )
        if n:
            rel = os.path.relpath(root, path)
            out["" if rel == "." else rel] = n
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_cols: list[str],
    seed: int = 0,
) -> None:
    """Deterministically shuffle ``df`` into ``n_shards`` balanced shard
    directories ``shard=0..n-1`` under ``path`` (one file per shard;
    shard membership and in-file order are a pure function of the id
    columns + seed, through :func:`portable_shard_key`)."""
    keyed = df.withColumn(_SHUFFLE_KEY, portable_shard_key(id_cols, seed))
    keyed = keyed.withColumn(
        "shard", F.pmod(F.col(_SHUFFLE_KEY), F.lit(n_shards)).cast("int"))
    (
        # hash-cluster on the shard value: every row of a shard lands in
        # exactly one task, so each shard=K/ directory gets one file
        keyed.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", _SHUFFLE_KEY)
        .drop(_SHUFFLE_KEY)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read shards back, dropping the layout-only ``shard`` column."""
    return spark.read.parquet(path).drop("shard")


def plan_packed_sequences(docs: DataFrame, seq_len: int, n_shards: int,
                          seed: int = 0) -> DataFrame:
    """Deterministic concatenate-and-cut packing plan for LM training:

    (doc_id, shard, seq_id, seq_offset, n_tokens)

    Documents are hash-shuffled into ``n_shards`` streams (portable md5
    key — same family as ``write_training_shards``), concatenated in key
    order within each stream, and the token stream is cut into
    fixed-``seq_len`` windows: ``seq_id = floor(cum_start / seq_len)``,
    ``seq_offset = cum_start % seq_len``. Documents may straddle sequence
    boundaries — the standard GPT-style packing, which wastes no tokens
    on padding. The plan is a pure function of (rows, seed, seq_len,
    n_shards): a data loader can be rebuilt from it at any time, and the
    DuckDB oracle (`pl_packed_sequences`) replays the identical window
    arithmetic.

    Scale shape: ONE shuffle keyed by shard, then a per-shard running sum
    (each shard is a single ordered window partition — ``n_shards`` is
    the parallelism knob, sized so a shard's plan rows fit one task; the
    cumulative sum never sees the corpus globally).
    """
    key = portable_shard_key(["doc_id"], seed)
    toks = F.size(F.split(F.col("text"), " "))
    keyed = docs.select(
        F.col("doc_id"),
        F.pmod(key, F.lit(n_shards)).cast("int").alias("shard"),
        key.alias(_SHUFFLE_KEY),
        toks.cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(_SHUFFLE_KEY, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_end = F.sum("n_tokens").over(w)
    return keyed.select(
        "doc_id", "shard", "n_tokens",
        F.floor((cum_end - F.col("n_tokens")) / seq_len).alias("seq_id"),
        F.pmod(cum_end - F.col("n_tokens"), F.lit(seq_len)).cast("long")
        .alias("seq_offset"),
    )
