"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the end-to-end
KG-construction pipeline on the synthetic pages corpus, and prints ONE
JSON line:

    {"metric": "e2e_pipeline_sec", "value": N, "unit": "sec",
     "queries": {...per-query MEDIAN sec...}, "sf": ..., "cpus": C,
     "pipeline": {"pages": P, "triples": T, "triples_per_sec": R,
                  "pages_per_sec": R2}, "rounds": K,
     "yardstick": {"pre": Y1, "post": Y2}}

The stdout line is medians-only (~1 KB) so a bounded tail capture always
parses it; the per-run arrays live in .artifacts/bench_runs.json and a
stderr comment line. "yardstick" is a fixed pure-JVM range-sum timed
before and after the sweeps — a clean window reads ~0.3 s on this VM;
a large or drifting pair flags the window as degraded.

Methodology (round-3 hardening — the round-2 numbers were single-shot and
order-sensitive, which hid a regression):
  * every measurement is the MEDIAN of $SPARK_GRAFT_BENCH_ROUNDS (default
    3) runs; the per-run values go to the side file for variance
    inspection;
  * the end-to-end pipeline is timed FIRST, before the memory-heavy
    similarity/dedup queries, so the headline metric never inherits GC
    pressure from an unrelated section;
  * a short settle sleep (default 15 s, $SPARK_GRAFT_BENCH_SETTLE) lets
    load from a just-finished process (e.g. a pytest run) drain before
    timing starts — this VM's run-to-run variance is dominated by
    load-average spillover;
  * queries run as full interleaved sweeps (q1..qN, q1..qN, ...) rather
    than back-to-back repeats, so no query's median benefits from its own
    just-warmed page cache more than the others.

Scaling evidence (north rule): run twice, SPARK_GRAFT_CPUS=8 then =32, on
identical input; efficiency = T_8 / (4 * T_32).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time


BENCH_QUERIES = [
    "q1_pricing_summary",
    "q_revenue_by_nation",
    "q_top2_orders_per_customer",
    "kg_record_triples",
    "kg_structural_features",
    "kg_characteristic_sets",
    "kg_concept_hierarchy",
    "dd_minhash_signatures",
    "dd_lsh_near_dup_capped",
    "dd_simhash",
    "tx_quality_scores",
    "tx_fingerprints",
    "sim_cosine_topk",
    "sim_lsh_ann",
    "sim_lsh_ann_multiprobe",
    "sim_ivf_ann",
    "dd_embedding_near_dup",
    "ev_sessions",
    "tx_repetition_signals",
    "dd_decontaminate",
    "kg_pagerank",
    "tx_vocab_sketch",
    "dd_dup_rate_sketch",
    "ev_approx_percentiles",
    "tx_heavy_tokens",
]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4000"))
    n_entities = int(os.environ.get("SPARK_GRAFT_BENCH_ENTITIES", "500"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    settle = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE", "15"))

    from concept_hierarchy_formation_in_property_graphs_spark import queries as q
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark(app_name="chf-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if settle > 0:
        time.sleep(settle)

    reg = q.registry()
    # JVM/JIT + python-worker warmup so per-query numbers are steady-state
    # (a long-lived cluster's first job is not the benchmark)
    reg["q_deterministic_sample"](spark, sf_dir).count()
    reg["q1_pricing_summary"](spark, sf_dir).count()
    # ...including the Arrow/pandas worker pool: the first ArrowEvalPython
    # stage of a session pays python-worker spawn + numpy import (~20 s at
    # local[32] in the r5 record) — that is session setup, not query cost
    spark.range(64).mapInPandas(
        lambda it: it, "id long"
    ).selectExpr("sum(id)").collect()

    # Host-capacity yardstick: a fixed pure-JVM job (range sum — no Python,
    # no disk, no shuffle) timed before and after the benchmark. This VM
    # shows episodic multi-10s capacity drops on identical code (BASELINE.md
    # "same-day capacity spread"); the yardstick pair lets any window's
    # numbers be adjudicated — if pre/post differ wildly or exceed the
    # recorded clean-window value, the window was degraded, not the code.
    def yardstick() -> float:
        ts = []
        for _ in range(3):
            t0 = time.time()
            spark.range(2_000_000_000).selectExpr("sum(id)").collect()
            ts.append(time.time() - t0)
        return round(statistics.median(ts), 3)

    yard_pre = yardstick()

    # end-to-end pipeline: pages -> ... -> concept hierarchy (checkpointed,
    # the production shape incl. snapshot writes). Timed before the
    # query sweeps — see module docstring.
    from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
        pages_spark_df,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
        run_pipeline,
    )

    pages = pages_spark_df(
        spark, n_pages, n_entities=n_entities, partitions=max(cpus, 8)
    ).cache()
    pages.count()  # exclude driver-side fixture generation from the timing
    pipeline_runs: list[float] = []
    n_triples = 0
    for _ in range(rounds):
        wd = tempfile.mkdtemp(prefix="chf_bench_")
        t0 = time.time()
        out = run_pipeline(spark, pages, wd, n_entities=n_entities)
        n_triples = out["triples"].count()
        out["concepts"].count()
        pipeline_runs.append(round(time.time() - t0, 3))
        shutil.rmtree(wd, ignore_errors=True)
        print(f"# pipeline run: {pipeline_runs[-1]}s", file=sys.stderr)
    pages.unpersist()
    pipeline_sec = round(statistics.median(pipeline_runs), 3)

    # interleaved query sweeps; median per query
    query_runs: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    row_counts: dict[str, int] = {}
    for _ in range(rounds):
        for name in BENCH_QUERIES:
            fn = reg[name]
            t0 = time.time()
            row_counts[name] = fn(spark, sf_dir).count()
            query_runs[name].append(round(time.time() - t0, 3))
    timings = {
        name: round(statistics.median(runs), 3)
        for name, runs in query_runs.items()
    }
    for name in BENCH_QUERIES:
        print(
            f"# {name}: {timings[name]}s ({row_counts[name]} rows; "
            f"runs {query_runs[name]})",
            file=sys.stderr,
        )

    result = {
        "metric": "e2e_pipeline_sec",
        "value": pipeline_sec,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "pipeline": {
            "pages": n_pages,
            "triples": n_triples,
            "pages_per_sec": round(n_pages / pipeline_sec, 2),
            "triples_per_sec": round(n_triples / pipeline_sec, 2),
        },
        "rounds": rounds,
        "yardstick": {"pre": yard_pre, "post": yardstick()},
    }
    # Per-run arrays live OFF stdout entirely: the driver records only a
    # bounded tail of stdout, and round 4's runs-inclusive line outgrew
    # it (BENCH_r04.json parsed:null — the round's perf record was
    # lost). Medians-only keeps the authoritative line ~1 KB and stdout
    # stays strictly ONE JSON line; the full run arrays go to a side
    # file and a stderr comment line.
    runs = {"rounds": rounds, "pipeline": pipeline_runs, "queries": query_runs}
    side = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".artifacts", "bench_runs.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)
    with open(side, "w") as f:
        json.dump(runs, f)
    print(f"# runs: {json.dumps(runs)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
