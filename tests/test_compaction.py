"""Compaction and training-shard sinks: layout changes, identical data.

Compaction must collapse a fragmented partition directory to the minimum
file count (respecting the row cap) without touching a row; the shard
writer must produce exactly n balanced files whose membership is a pure
function of (rows, id columns, seed) — re-running it reproduces the same
shards, a different seed reshuffles.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.sources.compaction import (
    compact_table,
    files_per_partition,
    read_training_shards,
    write_training_shards,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="chf_compact_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_compact_partitioned_collapses_small_files(spark, tmpdir):
    src, dst = tmpdir + "/src", tmpdir + "/dst"
    ev = spark.range(0, 2000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 4).cast("string").alias("shard"),
        (F.col("id") % 13).alias("value"),
    )
    # fragment: 8 writer tasks x 4 partition values = 32 small files
    ev.repartition(8).write.partitionBy("shard").parquet(src)
    assert sum(files_per_partition(src).values()) >= 16

    compact_table(spark, src, dst, partition_cols=["shard"])
    per_dir = files_per_partition(dst)
    assert len(per_dir) == 4 and all(n == 1 for n in per_dir.values()), per_dir
    # Hive directory values are type-inferred on read (shard=0 -> int);
    # compare on a common type
    got = spark.read.parquet(dst).select(
        "event_id", F.col("shard").cast("string").alias("shard"), "value"
    )
    assert _rows(got) == _rows(ev)


def test_compact_respects_row_cap(spark, tmpdir):
    src, dst = tmpdir + "/src", tmpdir + "/dst"
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 3).alias("v"))
    df.repartition(10).write.parquet(src)
    compact_table(spark, src, dst, max_records_per_file=300)
    per_dir = files_per_partition(dst)
    # 1000 rows / cap 300 -> 4 partitions, each within the cap
    assert sum(per_dir.values()) == 4, per_dir
    assert _rows(spark.read.parquet(dst)) == _rows(df)


def test_training_shards_deterministic_and_balanced(spark, tmpdir):
    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("body"),
    )
    a, b, c = tmpdir + "/a", tmpdir + "/b", tmpdir + "/c"
    write_training_shards(docs, a, n_shards=8, id_cols=["doc_id"], seed=7)
    write_training_shards(docs, b, n_shards=8, id_cols=["doc_id"], seed=7)
    write_training_shards(docs, c, n_shards=8, id_cols=["doc_id"], seed=8)

    per_a = files_per_partition(a)
    assert sum(per_a.values()) == 8, per_a

    back = read_training_shards(spark, a)
    assert _rows(back) == _rows(docs)  # lossless

    def shard_sets(path):
        df = read_training_shards(spark, path).withColumn(
            "f", F.input_file_name()
        )
        by_shard: dict[str, set] = {}
        for r in df.select("f", "doc_id").collect():
            # key on the shard=K directory, not the part-file basename (a
            # task that owns two shard values reuses its basename in both)
            by_shard.setdefault(r.f.rsplit("/", 2)[-2], set()).add(r.doc_id)
        # dict keyed by shard=K dir: frozensets have no total order, so a
        # sorted() list of them is unsafe to compare
        return {k: frozenset(v) for k, v in by_shard.items()}

    sa, sb, sc = shard_sets(a), shard_sets(b), shard_sets(c)
    assert sa == sb  # same seed -> identical shard membership
    assert sa != sc  # new seed -> fresh shuffle
    sizes = sorted(len(s) for s in sa.values())
    assert sizes[0] >= 0.5 * sizes[-1], sizes  # balanced within 2x
    # shuffled: no shard is a contiguous doc_id range
    assert all(max(s) - min(s) > len(s) for s in sa.values())


def test_portable_shards_match_manifest_query(spark, tmpdir):
    """Shard membership must equal the oracle-checkable assignment
    pl_training_shards computes (pmod(md5_long(id:seed), n))."""
    from concept_hierarchy_formation_in_property_graphs_spark.sources.compaction import (
        portable_shard_key,
    )

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    out = tmpdir + "/shards"
    write_training_shards(docs, out, n_shards=16, id_cols=["doc_id"], seed=7)
    got = {
        (r.doc_id, int(r.shard))
        for r in spark.read.parquet(out)
        .select("doc_id", F.col("shard").cast("int").alias("shard"))
        .collect()
    }
    exp = {
        (r.doc_id, r.shard)
        for r in docs.select(
            "doc_id",
            F.pmod(portable_shard_key(["doc_id"], 7), F.lit(16))
            .cast("int")
            .alias("shard"),
        ).collect()
    }
    assert got == exp


def test_packed_sequences_plan_invariants(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.sources.compaction import (
        plan_packed_sequences,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(7))) for i in range(40)],
        "doc_id long, text string",
    )
    plan = plan_packed_sequences(docs, seq_len=10, n_shards=2, seed=3)
    rows = plan.collect()
    assert len(rows) == 40 and all(r["n_tokens"] == 7 for r in rows)
    assert all(0 <= r["seq_offset"] < 10 for r in rows)

    # within a shard, the stream is gapless: each doc starts where the
    # previous one ended (mod seq_len), with seq_id advancing on wrap
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r["seq_id"], r["seq_offset"]))
        cum = 0
        for r in rs:
            assert r["seq_id"] * 10 + r["seq_offset"] == cum
            cum += r["n_tokens"]

    # determinism across partitioning
    again = plan_packed_sequences(docs.repartition(5), seq_len=10,
                                  n_shards=2, seed=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
