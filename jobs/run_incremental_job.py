"""spark-submit entry point for INCREMENTAL concept-hierarchy ingest.

Each launch merges one new instance batch into the persisted intent state
(never rescanning previous batches' instances) and re-emits the hierarchy
tables through `operators/streaming.merge_batch_into_state`
(`concepts.intent_state` + `concepts.merge_intent_state`):

    zip -r chf_spark.zip concept_hierarchy_formation_in_property_graphs_spark
    spark-submit --master <cluster> --py-files chf_spark.zip \
        jobs/run_incremental_job.py --batch <instances-parquet> \
        --state-dir <dir> [--galois] [--out <hierarchy-parquet-dir>]

The batch parquet must have columns (instance_id STRING,
intent ARRAY<STRING>). The state dir uses the same versioned layout as
`operators/streaming.run_hierarchy_stream` (state/v{N} + CURRENT pointer +
per-batch inst/b{N}/), so a batch job and a streaming job can share state.
Because the lattice is a pure function of the merged state, any batch
arrival order yields the identical tree, bit-identical to
`build_hierarchy` over the union. This is the package's one incremental
path: `tests/test_concepts.py`'s incremental tests and the
`kg_incremental_hierarchy` oracle query both run it.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", required=True,
                    help="parquet with (instance_id, intent) for this batch")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--galois", action="store_true")
    ap.add_argument("--out", default=None,
                    help="optional dir to write concepts/assignments/closure")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        current_version,
        hierarchy_from_state_dir,
        merge_batch_into_state,
    )

    spark = SparkSession.builder.appName("chf-incremental-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    batch = spark.read.parquet(args.batch)
    # Version id from the CURRENT pointer, NOT a raw directory listing:
    # a run that crashed after writing state/v{N} + inst/b{N} but before
    # repointing CURRENT leaves orphan dirs above CURRENT, and the
    # relaunch must OVERWRITE them (merge_batch_into_state's idempotent
    # replay contract) rather than allocate v{N+1} and duplicate the
    # batch's instances in both inst/b{N} and inst/b{N+1}.
    cur = current_version(args.state_dir)
    version = 0 if cur is None else cur + 1
    # derives prev from the last _SUCCESS-committed snapshot < version,
    # writes state/v{version} + inst/b{version}, then repoints CURRENT
    merge_batch_into_state(batch, version, args.state_dir)

    out = hierarchy_from_state_dir(spark, args.state_dir, galois=args.galois)
    summary = {
        "version": version,
        "batch_rows": batch.count(),
        "concepts": out["concepts"].count(),
    }
    if args.out:
        for name in ("concepts", "assignments", "closure"):
            out[name].write.mode("overwrite").parquet(
                os.path.join(args.out, name)
            )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
