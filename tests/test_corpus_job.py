"""The corpus-curation job end-to-end: funnel output, shard export,
resume-on-relaunch, and export determinism."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))


@pytest.fixture()
def corpus_paths(spark, tmp_path):
    def varied(prefix, k=15):
        # stopword-dense but trigram-unique: passes quality/lang/repetition
        return " ".join(f"the {prefix}w{i} of {prefix}v{i}" for i in range(k))

    docs = spark.createDataFrame(
        [
            (1, varied("a")),                      # admitted
            (2, varied("b")),                      # admitted
            (3, varied("a")),                      # exact dup of 1 -> dropped
            (4, "the " + "spam " * 60),            # run-length -> dropped
            (5, "zx qv wk jn pl mt rs"),           # non-en / low quality -> dropped
            # contaminated: leads with the bench 4-grams verbatim
            (6, "the held out eval phrase appears here " + varied("c")),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the held out eval phrase appears here exactly")],
        "doc_id long, text string",
    )
    dpath, bpath = str(tmp_path / "docs"), str(tmp_path / "bench")
    docs.write.parquet(dpath)
    bench.write.parquet(bpath)
    return dpath, bpath, str(tmp_path / "wd")


def test_corpus_job_funnel_resume_and_determinism(spark, corpus_paths, tmp_path):
    from run_corpus_job import run

    dpath, bpath, wd = corpus_paths
    out = run(spark, dpath, wd, bench_path=bpath, n_shards=4)
    assert out["total"] == 6
    admitted = spark.read.parquet(os.path.join(wd, "c3_admitted"))
    ids = sorted(r["doc_id"] for r in admitted.select("doc_id").collect())
    assert ids == [1, 2]  # 3 dup, 4 repetitive, 5 non-en, 6 contaminated
    assert out["contaminated"] >= 1

    shards = spark.read.parquet(os.path.join(wd, "c4_shards"))
    assert sorted(r["doc_id"] for r in shards.collect()) == [1, 2]

    # relaunch: every stage must resume, results identical
    out2 = run(spark, dpath, wd, bench_path=bpath, n_shards=4)
    resumed = [m["stage"] for m in out2["metrics"] if m.get("resumed")]
    assert set(resumed) == {"c1_signals", "c2_contaminated", "c3_admitted"}
    assert out2["admitted"] == out["admitted"]

    # a second independent workdir produces byte-identical shard assignment
    wd2 = str(tmp_path / "wd2")
    run(spark, dpath, wd2, bench_path=bpath, n_shards=4)
    a = spark.read.parquet(os.path.join(wd, "c4_shards")).select("doc_id", "shard")
    b = spark.read.parquet(os.path.join(wd2, "c4_shards")).select("doc_id", "shard")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_corpus_job_without_bench_skips_decontamination(spark, corpus_paths, tmp_path):
    from run_corpus_job import run

    dpath, _, _ = corpus_paths
    wd = str(tmp_path / "wd_nobench")
    out = run(spark, dpath, wd, bench_path=None, n_shards=2)
    assert out["contaminated"] is None
    admitted = spark.read.parquet(os.path.join(wd, "c3_admitted"))
    ids = sorted(r["doc_id"] for r in admitted.select("doc_id").collect())
    assert 6 in ids  # nothing to decontaminate against -> doc 6 survives


def test_corpus_job_admits_the_admission_funnel_survivors(spark, corpus_paths, tmp_path):
    """The job and tx_admission_funnel share one admission policy: over a
    documents table holding the same docs plus the bench text at doc_id 23
    (the funnel's held-out split is doc_id % 23 == 0), the funnel's
    decontaminated count is the job's admitted set."""
    from pyspark.sql import functions as F
    from run_corpus_job import run

    from concept_hierarchy_formation_in_property_graphs_spark.queries import (
        tx_admission_funnel,
    )

    dpath, bpath, wd = corpus_paths
    run(spark, dpath, wd, bench_path=bpath, n_shards=2)
    admitted = spark.read.parquet(os.path.join(wd, "c3_admitted"))
    ids = sorted(r["doc_id"] for r in admitted.select("doc_id").collect())

    sf = str(tmp_path / "sf")
    bench = spark.read.parquet(bpath).withColumn("doc_id", F.lit(23).cast("long"))
    spark.read.parquet(dpath).unionByName(bench).write.parquet(sf + "/documents.parquet")
    funnel = {r["stage"]: r["n_docs"] for r in tx_admission_funnel(spark, sf).collect()}
    assert ids == [1, 2]
    assert funnel["corpus"] == 6
    assert funnel["decontaminated"] == len(ids)
