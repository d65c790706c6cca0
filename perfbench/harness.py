"""Measurement plumbing shared by the workloads: spans, resident-set
high-water marks, the Spark session life cycle and the event-log harvester.

Nothing here reaches into the package under test beyond its public
``session.get_spark``: the per-layer numbers come from spans recorded
around each call, the checkpoint files a call leaves behind, and Spark's
own event log.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import logging
import os
import statistics
import subprocess
import time


class Tracer:
    """Spans (name, parent, start, end) kept in memory, dumped at the end.

    Timing is always on (two clock reads per span). ``traced`` adds the
    Spark side: each span becomes the job group of the jobs it submits, so
    the event log can attribute them."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.sc = None
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _set_group(self) -> None:
        if self.traced and self.sc is not None:
            name = self._open[-1]["name"] if self._open else None
            self.sc.setLocalProperty("spark.jobGroup.id", name)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._open[-1]["name"] if self._open else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._set_group()

    def add(self, name: str, start: float, end: float, parent: str) -> None:
        """A span timed by the program itself (e.g. a StageRunner stage)."""
        self.spans.append({"name": name, "parent": parent, "start": start, "end": end})

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# resident-set high-water marks (VmHWM), read from /proc
# ---------------------------------------------------------------------------


def peak_rss_mb(pid: int | str = "self") -> float:
    """A process's resident-set high-water mark, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def reset_peak_rss() -> None:
    """Restart this process's high-water mark from its current resident set."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


# ---------------------------------------------------------------------------
# Spark session life cycle
# ---------------------------------------------------------------------------


def start_spark(work: str, traced: bool):
    """local[nproc] through the package's own factory. Only the warehouse
    path (inside the work dir) and, when traced, the event log are added;
    heap, partitions and every other default stay the package's."""
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    # the usable cores, as nproc counts them
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="chf-perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    """High-water mark of the gateway JVM, which runs the driver and, in
    local mode, every executor thread."""
    from pyspark import SparkContext

    return peak_rss_mb(SparkContext._gateway.proc.pid)


def heap_gb(spark) -> float:
    """The configured ``spark.driver.memory`` in GiB."""
    v = spark.sparkContext.getConf().get("spark.driver.memory", "1g").strip().lower()
    scale = {"k": 1 / 1024 ** 2, "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    return float(v[:-1]) * scale[v[-1]] if v[-1] in scale else float(v) / 1024 ** 3


# ---------------------------------------------------------------------------
# build_hierarchy's branch choice, observed from outside
# ---------------------------------------------------------------------------

CONCEPTS_LOGGER = "concept_hierarchy_formation_in_property_graphs_spark.operators.concepts"


class BailCounter(logging.Handler):
    """Counts the INFO record the lattice logs when its driver pass goes
    over the work budget and falls back to the distributed branch."""

    def __init__(self):
        super().__init__(level=logging.INFO)
        self.bails = 0

    def emit(self, record: logging.LogRecord) -> None:
        if "over budget" in record.getMessage():
            self.bails += 1

    def __enter__(self):
        lg = logging.getLogger(CONCEPTS_LOGGER)
        self._prev_level = lg.level
        lg.setLevel(logging.INFO)
        lg.addHandler(self)
        return self

    def __exit__(self, *exc):
        lg = logging.getLogger(CONCEPTS_LOGGER)
        lg.removeHandler(self)
        lg.setLevel(self._prev_level)
        return False


def is_driver_branch(concepts_df) -> bool:
    """The driver branch builds ``concepts`` from a collected Python list,
    so its plan is a bare local scan; the distributed branch's plan joins."""
    plan = concepts_df._jdf.queryExecution().optimizedPlan().toString()
    return "Join" not in plan and "Aggregate" not in plan


# ---------------------------------------------------------------------------
# correctness helpers
# ---------------------------------------------------------------------------


def rows_hash(df) -> str:
    """Order-free content hash of a DataFrame's rows."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total / 1024 ** 2


# ---------------------------------------------------------------------------
# event-log harvester (traced runs; read after the context has stopped)
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs and task metrics folded from Spark's JSON event log (the v2
    rolling layout ``eventlog_v2_*/events_*`` or a single file; written
    uncompressed by :func:`start_spark`)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}  # job id -> group, submit_s, stages
        self.tasks: dict[int, list[dict]] = {}  # stage id -> per-task metrics
        for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
            if os.path.isfile(path):
                self._read(path)

    def _read(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_s": ev.get("Submission Time", 0) / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    self.tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": tm.get("Disk Bytes Spilled", 0),
                    })

    def jobs_in(self, group: str, after: float | None = None,
                until: float | None = None) -> list[int]:
        """Ids of the jobs of ``group`` submitted in (after, until]."""
        return sorted(
            j for j, rec in self.jobs.items()
            if rec["group"] == group
            and (after is None or rec["submit_s"] > after)
            and (until is None or rec["submit_s"] <= until)
        )

    def fold(self, job_ids: list[int]) -> dict[str, float]:
        stages = sorted({s for j in job_ids for s in self.jobs[j]["stages"]})
        per_stage = [self.tasks.get(s, []) for s in stages]
        tasks = [t for ts in per_stage for t in ts]
        # skew inside the widest Spark stage: max / median task run time
        runs = [t["run_ms"] for t in max(per_stage, key=len, default=[])]
        med = statistics.median(runs) if runs else 0
        return {
            "jobs": float(len(job_ids)),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "jvm_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1024 ** 2,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 1024 ** 2,
            "task_skew": max(runs) / med if med > 0 else 1.0,
        }
