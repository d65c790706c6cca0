"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds nothing (pure Python);
starts one local[nproc] Spark session through the package's ``get_spark``,
sets up the seeded inputs, then repeats the workload's op until
``--seconds`` have passed (always at least one op). The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Names and units are checked against BENCHMARK.json before
printing. Everything the run writes stays under ``.perfbench_run/`` in the
checkout. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "concept_hierarchy_formation_in_property_graphs_spark"

E2E_UNITS = {"setup_s": "s", "op_s": "s", "items_per_s": "1/s", "py_peak_mb": "MB"}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def self_check(metrics: dict[str, dict], traced: bool) -> None:
    """The printed names and units must be exactly those BENCHMARK.json
    declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    printed = {k: v["unit"] for k, v in metrics.items()}
    if printed != declared:
        missing = sorted(set(declared) - set(printed))
        extra = sorted(set(printed) - set(declared))
        raise SystemExit(
            f"metric names/units differ from BENCHMARK.json: missing {missing}, "
            f"extra {extra}"
        )


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file a process writes inside the checkout: temp files, the
    # JVMs' perf counters (else /tmp/hsperfdata_*) and Spark's scratch space
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    from harness import (
        EventLog,
        Tracer,
        heap_gb,
        jvm_peak_rss_mb,
        start_spark,
        stop_spark,
    )
    from workloads import LAYER_NAMES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tracer = Tracer(traced)
    spark = None
    try:
        with tracer.span("setup.session") as sp_session:
            spark = start_spark(work, traced)
        tracer.sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        inputs_s = wl.prepare_inputs()
        start_s = Tracer.seconds(sp_session)
        heap = heap_gb(spark)

        ops, raised = [], []
        deadline = time.time() + args.seconds
        while not (ops or raised) or time.time() < deadline:
            try:
                ops.append(wl.op(len(ops) + len(raised)))
            except Exception:  # counted as a failed op
                raised.append(traceback.format_exc())
        if not ops:
            raise RuntimeError("every op raised:\n" + raised[0])
        e2e = wl.summarize(ops)
        # the peak of a JVM with a multi-GiB heap follows its GC timing more
        # than the code, so it is a traced-run figure, not an end-to-end one
        jvm_mb = jvm_peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)

    # the spans behind every printed number, for reading a single run
    print(" ".join(f"{r['name']}={Tracer.seconds(r):.2f}" for r in tracer.spans),
          file=sys.stderr)
    failures = [f for o in ops for f in o["failures"]] + raised
    for f in failures:
        print(f"op failed: {f}", file=sys.stderr)
    failed = sum(1 for o in ops if o["failures"]) + len(raised)

    if traced:
        layers = dict.fromkeys(LAYER_NAMES, 0.0)
        layers.update({
            "session.start_s": start_s,
            "session.heap_gb": heap,
            "setup.inputs_s": inputs_s,
            "session.jvm_peak_rss_mb": jvm_mb,
            "trace.op_s": e2e["op_s"],
        })
        layers.update(wl.layers(ops, EventLog(os.path.join(work, "eventlog"))))
        tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        metrics = {
            k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
        }
    else:
        values = {
            "setup_s": start_s + inputs_s,
            "op_s": e2e["op_s"],
            "items_per_s": e2e["items_per_s"],
            "py_peak_mb": e2e["py_peak_mb"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    self_check(metrics, traced)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops) + len(raised),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    """Units follow the name's suffix; the rest are counts or flags."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_gb", "GB"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
