"""Hive-layout partitioned writes — directory partition pruning at scale.

The 100 TB story for time-series / append-only fact tables (events,
crawl snapshots): persist ``partitionBy(col)`` so the physical layout is
``path/col=value/part-*.parquet`` and every query filtering on the
partition column prunes whole directories at PLANNING time — the scan
never lists, opens, or reads a pruned partition's files. This is the
coarse-grained complement to parquet's min/max footer stats:

  * partitionBy (here)      — eliminate partitions by filter (time/tenant)
  * min/max footer stats    — eliminate row groups inside surviving files

At a year of hourly telemetry, a one-day dashboard query touches 24 of
8,760 partitions; everything else is pruned before a single task launches.
``PartitionFilters`` in the explain output (asserted in
tests/test_sources_partitioned.py, alongside an ``inputFiles()`` count)
is the evidence the pruning actually reached the scan.

Low-cardinality partition columns only (dates, tenants, shards — NOT
user_id): each distinct value is a directory, and millions of tiny
partitions destroy listing performance. The derived-column helper uses
``date_trunc`` for exactly this reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Persist ``df`` under a Hive layout partitioned by ``partition_cols``
    (overwrite). The partition columns are stored in the directory names,
    not the data files — readers recover them automatically."""
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def with_date_partition(events: DataFrame) -> DataFrame:
    """Add the canonical daily partition column ``event_date`` = the DATE
    of ``ts`` (low cardinality)."""
    return events.withColumn("event_date", F.to_date(F.col("ts")))


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a Hive-layout table; filters on partition columns become
    ``PartitionFilters`` (directory pruning), everything else stays a
    ``PushedFilters`` row-group predicate."""
    return spark.read.parquet(path)


def partition_filters(df: DataFrame) -> str:
    """The ``PartitionFilters: [...]`` segment of ``df``'s planned scan,
    for tests and audits ('' if the plan has no partition filter)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            seg = line.split("PartitionFilters:", 1)[1]
            return "PartitionFilters:" + seg.split("]", 1)[0] + "]"
    return ""


def scan_num_files(df: DataFrame) -> int:
    """The ``numFiles`` metric of ``df``'s file scan AFTER an action ran —
    the ground-truth count of files the scan actually opened (pruned
    directories never appear). Call only after ``df.collect()``/count."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "FileSourceScan" in node.getClass().getName():
            return int(node.metrics().apply("numFiles").value())
    raise ValueError("no file scan in plan")
