"""Scaling-efficiency evidence: one job on one input at two local[]
parallelism levels, each in a fresh JVM, pinned and unpinned.

Usage: python tools/scaling.py {pipeline|corpus} [n] [lo] [hi]

  pipeline  ``run_pipeline`` over n synthetic pages (default 120000;
            500 entities, content_scale 12)
  corpus    ``jobs/run_corpus_job.run`` over n synthetic documents
            (default 400000)
  lo, hi    the two parallelism levels; default 1 and the host's cores

The input is generated once at the host's core count, then each level
runs as a fresh subprocess of this file: one small warm-up run of the
same worker (JIT, codegen, Python workers), then the timed run. Each
level runs twice. Pinned, the subprocess first restricts itself with
``os.sched_setaffinity`` to its first ``cpus`` allowed cores, so the JVM,
its GC threads and the Python workers it forks share exactly those
cores. Unpinned, local[cpus] bounds only the task slots, and a local[1]
run still gets the other cores for GC and Python workers, which
understates the efficiency. The JVM heap follows ``session.get_spark``'s
rule. Prints one JSON line with, for ``pinned`` and ``unpinned``: both
level records, efficiency = (T_lo·lo) / (T_hi·hi) of the totals, and the
same ratio per stage from the stages' ``seconds`` (the records
``run_metrics.json`` holds).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "jobs"))

N_ENTITIES = 500
CONTENT_SCALE = 12
DEFAULT_N = {"pipeline": 120_000, "corpus": 400_000}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def efficiency(t_lo: float, lo: int, t_hi: float, hi: int) -> float:
    """Fraction of the ideal hi/lo speedup that was achieved."""
    return (t_lo * lo) / (t_hi * hi)


def summarize(rec_lo: dict, lo: int, rec_hi: dict, hi: int) -> dict:
    """Both level records, the total efficiency and the per-stage one
    (stages that ran for more than 0 s at both levels)."""
    stages = {
        s: round(efficiency(t, lo, rec_hi["stages"][s], hi), 3)
        for s, t in rec_lo["stages"].items()
        if t > 0 and rec_hi["stages"].get(s, 0) > 0
    }
    return {
        "lo": rec_lo, "hi": rec_hi,
        "efficiency": round(efficiency(rec_lo["wall_s"], lo, rec_hi["wall_s"], hi), 3),
        "stage_efficiency": stages,
    }


def _stage_seconds(metrics: list[dict]) -> dict[str, float]:
    return {m["stage"]: m["seconds"] for m in metrics}


def pipeline_level(spark, pages) -> dict:
    """Time the full KG pipeline over ``pages`` in a fresh workdir."""
    from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
        run_pipeline,
    )

    n = pages.count()  # warm the scan, exclude it from timing
    wd = tempfile.mkdtemp(prefix="chf_scale_")
    try:
        t0 = time.time()
        out = run_pipeline(spark, pages, wd, n_entities=N_ENTITIES)
        n_triples = out["triples"].count()
        out["concepts"].count()
        wall = time.time() - t0
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    return {"cpus": spark.sparkContext.defaultParallelism,
            "affinity": host_cpus(), "items": n,
            "triples": n_triples, "wall_s": round(wall, 2),
            "items_per_s": round(n / wall, 2),
            "stages": _stage_seconds(out["metrics"])}


def corpus_level(spark, docs: str, bench: str) -> dict:
    """Time the corpus-curation job over the ``docs`` parquet."""
    from run_corpus_job import run

    wd = tempfile.mkdtemp(prefix="chf_corpus_scale_")
    try:
        t0 = time.time()
        out = run(spark, docs, wd, bench_path=bench, n_shards=16)
        wall = time.time() - t0
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    return {"cpus": spark.sparkContext.defaultParallelism,
            "affinity": host_cpus(),
            "items": out["total"], "admitted": out["admitted"],
            "wall_s": round(wall, 2),
            "items_per_s": round(out["total"] / wall, 2),
            "stages": _stage_seconds(out["metrics"])}


def _synth_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    from pyspark.sql import functions as F

    # 60 tokens/doc: every 3rd token a stopword (passes language/quality),
    # the rest md5-derived (trigram-unique, passes repetition thresholds)
    tok = (
        "CASE WHEN i % 3 = 0 THEN (CASE WHEN i % 2 = 0 THEN 'the' ELSE 'of' END) "
        f"ELSE substr(md5(concat(cast(id as string), ':', cast(i as string), ':{seed}')), 1, 6) END"
    )
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(f"array_join(transform(sequence(1, 60), i -> {tok}), ' ')").alias("text"),
    ).write.mode("overwrite").parquet(path)


def _session(mode: str, cpus: int):
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    # a ~25 MB synthetic corpus packs into ONE 128 MB file-partition, which
    # serializes every scan stage; a real corpus has thousands of splits.
    # Model that: 1 MB split target -> ~25 scan partitions at 100k docs.
    conf = {"spark.sql.files.maxPartitionBytes": str(1 << 20)} if mode == "corpus" else {}
    spark = get_spark(app_name=f"chf-scale-{mode}-{cpus}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gen(mode: str, n: int, data: str) -> None:
    spark = _session(mode, host_cpus())
    if mode == "pipeline":
        from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
            pages_spark_df_distributed,
        )

        pages_spark_df_distributed(
            spark, n, n_entities=N_ENTITIES, content_scale=CONTENT_SCALE,
            partitions=128,
        ).write.mode("overwrite").parquet(os.path.join(data, "pages"))
    else:
        _synth_corpus(spark, os.path.join(data, "docs"), n, seed=1)
        _synth_corpus(spark, os.path.join(data, "warm"), 5_000, seed=1)
        _synth_corpus(spark, os.path.join(data, "bench"), 2_000, seed=2)
    spark.stop()


def pin_to(cpus: int) -> None:
    """Restrict this process, and every process it starts later, to its
    first ``cpus`` allowed cores."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])


def _level(mode: str, cpus: int, data: str, pinned: bool) -> dict:
    if pinned:
        pin_to(cpus)
    spark = _session(mode, cpus)
    if mode == "pipeline":
        from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
            pages_spark_df,
        )

        pipeline_level(spark, pages_spark_df(spark, 300, n_entities=N_ENTITIES))
        record = pipeline_level(spark, spark.read.parquet(os.path.join(data, "pages")))
    else:
        bench = os.path.join(data, "bench")
        corpus_level(spark, os.path.join(data, "warm"), bench)
        record = corpus_level(spark, os.path.join(data, "docs"), bench)
    spark.stop()
    return record


def _child(*args) -> str:
    """Run this file with ``args`` in a fresh interpreter; its stdout."""
    return subprocess.run(
        [sys.executable, os.path.abspath(__file__), *map(str, args)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout


def main(argv: list[str]) -> None:
    if argv[:1] == ["--gen"]:
        _gen(argv[1], int(argv[2]), argv[3])
        return
    if argv[:1] == ["--level"]:
        print(json.dumps(_level(argv[1], int(argv[2]), argv[3], argv[4] == "pinned")))
        return
    if not argv or argv[0] not in DEFAULT_N:
        raise SystemExit(__doc__)
    mode = argv[0]
    n = int(argv[1]) if len(argv) > 1 else DEFAULT_N[mode]
    lo = int(argv[2]) if len(argv) > 2 else 1
    hi = int(argv[3]) if len(argv) > 3 else host_cpus()

    data = tempfile.mkdtemp(prefix=f"chf_scaling_{mode}_")
    try:
        _child("--gen", mode, n, data)
        result = {"mode": mode, "n": n}
        for pin in ("pinned", "unpinned"):
            levels = {}
            for cpus in (lo, hi):
                out = _child("--level", mode, cpus, data, pin)
                levels[cpus] = json.loads(out.splitlines()[-1])
                print(f"# local[{cpus}] {pin}: {levels[cpus]}", file=sys.stderr)
            result[pin] = summarize(levels[lo], lo, levels[hi], hi)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
