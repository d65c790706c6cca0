"""As-of (point-in-time) join — an operator Spark lacks natively.

``asof_join(left, right)``: each left row picks the LATEST right row with
``right.on <= left.on`` inside the same ``by`` key (backward-inclusive,
left-outer) — the trade-quote / feature-snapshot / latest-state-at-event
join.

Implemented fully relationally: tag and union both sides, then one
per-key ordered window carries the most recent right payload forward
(``last(_rpay, ignorenulls=True)``); right rows sort BEFORE left rows on
timestamp ties so equality is inclusive. ONE shuffle on the key, whole-
stage codegen, no pandas, and — unlike the bucketize-and-filter scheme —
no range explosion on skewed gaps. At 100 TB both inputs shuffle once on
``by`` (or not at all if pre-bucketed on it with ``bucketBy``); state
per key inside the window is a single struct.

The DuckDB twin is the native ``ASOF LEFT JOIN`` (same semantics), so the
operator is oracle-gated end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_self_join(events: DataFrame, id_col: str = "event_id",
                    on: str = "ts", window_sec: int = 300,
                    payload: list[str] | None = None) -> DataFrame:
    """All pairs of rows within ``window_sec`` of each other — the pure
    RANGE join (no equi key), which Spark would otherwise plan as a
    BroadcastNestedLoopJoin/cartesian.

    Bucketize-then-equi-join: each row lands in bucket floor(t/width) and
    additionally probes with the predecessor bucket, so every |Δt| ≤ width
    pair meets in exactly the later row's bucket-pairing — candidates are
    O(rows × bucket density), not O(n²), and the join key is a shuffle-
    friendly integer. Exact |Δt| filter afterwards; emits id_a < id_b once.
    At 100 TB ``window_sec`` controls the candidate blow-up explicitly —
    the knob a cartesian hides.
    """
    payload = payload or []
    base = events.select(
        F.col(id_col).alias("_id"),
        F.unix_micros(F.col(on).cast("timestamp")).alias("_t")
        if dict(events.dtypes)[on].startswith("timestamp")
        else F.col(on).cast("long").alias("_t"),
        *payload,
    )
    width = window_sec * 1_000_000
    bucketed = base.withColumn("_b", F.floor(F.col("_t") / width))
    probes = bucketed.select(
        "*", F.explode(F.array(F.col("_b"), F.col("_b") + 1)).alias("_pb")
    )
    a = bucketed.alias("a")
    b = probes.alias("b")
    pairs = (
        a.join(b, F.col("a._b") == F.col("b._pb"))
        .where(F.col("a._id") != F.col("b._id"))
        .where(F.abs(F.col("a._t") - F.col("b._t")) <= width)
        # each qualifying unordered pair meets exactly once per probe match;
        # canonicalize and dedupe the (own-bucket, adjacent-bucket) overlap
        .select(
            F.least(F.col("a._id"), F.col("b._id")).alias("id_a"),
            F.greatest(F.col("a._id"), F.col("b._id")).alias("id_b"),
            F.abs(F.col("a._t") - F.col("b._t")).alias("delta_us"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str = "user_id", right_cols: list[str] | None = None,
              suffix: str = "") -> DataFrame:
    """Backward-inclusive left as-of join.

    ``right`` must be unique per (by, on) — pre-aggregate otherwise (the
    match at a tied timestamp would be ambiguous). ``right_cols``: payload
    columns to carry (default: everything but the keys), emitted as
    ``<col><suffix>``; unmatched left rows get NULLs.
    """
    rc = right_cols or [c for c in right.columns if c not in (by, on)]
    lpay_t = left.select(F.struct(*left.columns).alias("s")).schema[0].dataType
    rpay_t = right.select(F.struct(*rc).alias("s")).schema[0].dataType

    lt = left.select(
        F.col(by).alias("_k"), F.col(on).alias("_t"),
        F.lit(1).alias("_il"),
        F.struct(*left.columns).alias("_lpay"),
        F.lit(None).cast(rpay_t).alias("_rpay"),
    )
    rt = right.select(
        F.col(by).alias("_k"), F.col(on).alias("_t"),
        F.lit(0).alias("_il"),
        F.lit(None).cast(lpay_t).alias("_lpay"),
        F.struct(*rc).alias("_rpay"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_il").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last("_rpay", ignorenulls=True).over(w)
    return (
        lt.unionByName(rt)
        .withColumn("_c", carried)
        .where(F.col("_il") == 1)
        .select(
            *[F.col(f"_lpay.{c}").alias(c) for c in left.columns],
            *[F.col(f"_c.{c}").alias(c + suffix) for c in rc],
        )
    )
