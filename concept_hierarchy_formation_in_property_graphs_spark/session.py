"""SparkSession factory tuned for the KG-construction pipeline.

Defaults target the sandbox (local[N], single JVM) but every knob is the
one you'd set on a real multi-executor cluster: AQE on (runtime skew-join +
partition coalescing), Arrow on (all Python crossings are vectorized),
shuffle partitions sized to cores.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# GiB of memory left outside the JVM heap: the Python driver, one Python
# worker per task slot (each holding an Arrow batch) and the JVM's own
# off-heap memory (metaspace, thread stacks, direct buffers).
HEAP_HEADROOM_GIB = 4


def usable_memory_bytes() -> int:
    """Physical memory, or the memory cgroup's limit when that is lower."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (Path("/sys/fs/cgroup/memory.max"),
                 Path("/sys/fs/cgroup/memory/memory.limit_in_bytes")):
        limit = path.read_text().strip() if path.exists() else ""
        if limit.isdigit():
            usable = min(usable, int(limit))
    return usable


def driver_memory_gib(cpus: int, usable_bytes: int) -> int:
    """The default ``spark.driver.memory`` in GiB: 2 GiB per task slot and
    at least 16, capped at the usable memory minus ``HEAP_HEADROOM_GIB``
    (and never below 1), so the heap cannot outgrow a small host."""
    cap = (usable_bytes - HEAP_HEADROOM_GIB * 2**30) // 2**30
    return max(1, min(max(16, 2 * cpus), cap))


def get_spark(
    app_name: str = "chf-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so the skew-join handling and post-shuffle coalescing the
    north rule asks for are active at any scale; AQE's skew split is the
    only head-entity skew guard in the neighbour joins (no explicit salting).
    """
    n = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html rows are 10s-of-KB to MB-sized: keep Arrow batches small so
        # a batch stays under G1's humongous-allocation threshold — big
        # batches (2048 × 40 KB ≈ 80 MB arrays) trigger the GCLocker retry
        # storm with JNI/Arrow critical sections and wedge the executor.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # heap scales with concurrency (tools/scaling.py relies on it):
        # N simultaneous tasks each hold shuffle buffers + an Arrow batch,
        # and a 16g heap under 32 tasks GC-thrashes exactly the queries
        # that build per-task hash tables (observed as multi-10s outliers
        # only at local[32], never at local[8]). -Xmx is a cap, not a
        # reservation, but a cap above the host's memory lets the JVM grow
        # into the Python workers' share, so driver_memory_gib caps it.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM",
                f"{driver_memory_gib(n, usable_memory_bytes())}g",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
