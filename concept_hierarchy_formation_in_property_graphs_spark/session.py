"""SparkSession factory tuned for the KG-construction pipeline.

Defaults target the sandbox (local[N], single JVM) but every knob is the
one you'd set on a real multi-executor cluster: AQE on (runtime skew-join +
partition coalescing), Arrow on (all Python crossings are vectorized),
shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


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
        # reservation, so the larger ceiling costs nothing when idle.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(16, 2 * n)}g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
