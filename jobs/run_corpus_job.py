"""spark-submit entry point for the training-corpus curation pipeline.

Cluster launch:

    zip -r chf_spark.zip concept_hierarchy_formation_in_property_graphs_spark
    spark-submit --master <cluster> --py-files chf_spark.zip \
        jobs/run_corpus_job.py --documents <parquet> --workdir <dir> \
        [--bench <parquet>] [--n-shards 16]

Runs the full curation funnel over a ``documents``-shaped table —
admission signals (quality / language / exact-fingerprint dedup /
repetition thresholds), optional benchmark n-gram decontamination —
then exports the admitted set as deterministic balanced training shards.
Every stage is a checkpointed snapshot via StageRunner: re-launching
with the same --workdir resumes after the last complete stage, and the
final shard export is reproducible bit-for-bit (portable md5 shard
assignment, not rand()/repartitionByRange).
"""

from __future__ import annotations

import argparse
import json
import os


def run(spark, documents_path: str, workdir: str, bench_path: str | None = None,
        n_shards: int = 16, min_quality: float = 0.5,
        max_dup_trigram: float = 0.2, max_top_bigram: float = 0.125,
        max_token_run: int = 2) -> dict:
    from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import (
        decontaminate,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.textstats import (
        admission_flags,
        admission_signals,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
        StageRunner,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.sources.compaction import (
        write_training_shards,
    )

    docs = spark.read.parquet(documents_path)
    runner = StageRunner(spark, workdir)

    def build_signals():
        # one fused pass: projection signals share a single scan, only the
        # two aggregate-shaped repetition signals join in (3 scans + 2
        # joins vs 6 scans + 5 joins for the naive composition)
        return admission_signals(docs)

    signals = runner.stage("c1_signals", build_signals)

    if bench_path:
        bench = spark.read.parquet(bench_path)
        contaminated = runner.stage(
            "c2_contaminated", lambda: decontaminate(docs, bench, n=4))
    else:
        contaminated = None

    def build_admitted():
        flags = admission_flags(signals, contaminated, min_quality=min_quality,
                                max_dup_trigram=max_dup_trigram,
                                max_top_bigram=max_top_bigram,
                                max_token_run=max_token_run)
        return docs.join(flags.where("decontaminated").select("doc_id"), "doc_id")

    admitted = runner.stage("c3_admitted", build_admitted)

    shards_dir = os.path.join(workdir, "c4_shards")
    # the partitioned write commits its own _SUCCESS marker — skip on resume
    if not os.path.exists(os.path.join(shards_dir, "_SUCCESS")):
        write_training_shards(
            admitted, shards_dir, n_shards,
            id_cols=["doc_id"], seed=7)

    return {
        "total": docs.count(),
        "admitted": admitted.count(),
        "contaminated": contaminated.count() if contaminated is not None else None,
        "n_shards": n_shards,
        "metrics": runner.metrics,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True, help="documents parquet path")
    ap.add_argument("--bench", default=None,
                    help="optional benchmark/eval parquet for decontamination")
    ap.add_argument("--workdir", required=True, help="checkpoint/snapshot dir")
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--max-dup-trigram", type=float, default=0.2)
    ap.add_argument("--max-top-bigram", type=float, default=0.125)
    ap.add_argument("--max-token-run", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("chf-corpus-curation").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    out = run(spark, args.documents, args.workdir, bench_path=args.bench,
              n_shards=args.n_shards, min_quality=args.min_quality,
              max_dup_trigram=args.max_dup_trigram,
              max_top_bigram=args.max_top_bigram,
              max_token_run=args.max_token_run)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
