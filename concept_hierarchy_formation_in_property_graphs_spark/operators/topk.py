"""Top-k per group — the graft of findHost's best/second-best scan
(`algos/Cobweb.java:73-104`): argmax over candidates becomes a window
row_number over a scored DataFrame (O2 in SURVEY §2.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, group_cols: list[str], order_col: str,
                    k: int = 2,
                    tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Deterministic top-k by descending ``order_col``: explicit tiebreak
    columns keep the result engine-stable (required for the DuckDB oracle
    comparison)."""
    ordering = [F.desc(order_col)]
    for c in tiebreak_cols or []:
        ordering.append(F.asc(c))
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
