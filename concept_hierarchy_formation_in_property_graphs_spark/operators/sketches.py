"""Approximate / sketch aggregates for 100 TB-scale corpus diagnostics.

The exact variants elsewhere in the repo (``ev_value_percentiles``,
``count(DISTINCT ...)``) are the small-group shapes; at corpus scale the
diagnostics a curation pipeline actually runs are sketches: HyperLogLog
for vocabulary size and dedup-rate estimates, KLL/GK-style quantile
summaries for latency/value distributions, and Misra-Gries heavy hitters
for head-token inspection — all mergeable, so they map-side combine and
shuffle O(sketch) bytes instead of O(distinct keys).

Oracle strategy (the sketches themselves can't bit-match DuckDB): each
operator emits the EXACT statistics (hash-comparable against the DuckDB
oracle) plus a deterministic ``sketch_ok`` contract column asserting the
sketch's published error bound held against the exact value — computed
Spark-side from real sketch output, TRUE in the oracle. The heavy-hitter
operator goes further: the sketch only PRUNES (candidate generation), a
second exact pass confirms, so its output is exact end-to-end and fully
hash-matched.

No counterpart in the reference (its diagnostics are driver-side Python,
e.g. `src/main/python/visualization.py`); this is engine-native scale
tooling in the same spirit as `operators/textstats.py`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_RSD = 0.02  # approx_count_distinct's target relative standard deviation
AUDIT_PCTS = (0.5, 0.9, 0.99)
AUDIT_ACCURACY = 1000


def vocab_sketch(docs: DataFrame, bound: float = 0.10) -> DataFrame:
    """Per-source vocabulary size: exact + HLL++ contract check.

    (source, n_tokens, n_types_exact, sketch_ok)

    ``approx_count_distinct`` is Spark's HyperLogLog++ with target
    relative standard deviation ``HLL_RSD``; ``sketch_ok`` asserts the
    estimate landed within ``bound``. rsd is a standard deviation, not a
    hard guarantee, so the hash-matched contract column uses a WIDE 5σ
    bound (miss probability ~6e-7 per group — an unlucky-but-correct
    estimate on a future dataset must not turn a correctness gate red,
    while a mis-wired sketch is off by far more than 5σ). The tight 3σ
    check lives in tests/test_sketches.py against fixed fixtures, where
    the estimate is deterministic. At 100 TB the exact count(DISTINCT)
    column is the one you drop: HLL shuffles a 2^p register array per
    group instead of every distinct token.
    """
    toks = docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("tok").cast("long").alias("n_types_exact"),
            F.approx_count_distinct("tok", HLL_RSD).alias("_approx"),
        )
        .select(
            "source", "n_tokens", "n_types_exact",
            (F.abs(F.col("_approx") - F.col("n_types_exact"))
             <= F.lit(bound) * F.col("n_types_exact")).alias("sketch_ok"),
        )
    )


def dup_rate_sketch(docs: DataFrame, bound: float = 0.10) -> DataFrame:
    """Corpus-level exact-duplicate rate: exact + HLL++ contract check.

    (n_docs, n_unique_exact, dup_rate4, sketch_ok)

    The dedup-rate estimate a crawl-curation run reports before paying
    for the real dedup: 1 − distinct(md5(text))/count(*). The HLL
    estimate needs one pass and O(registers) state; ``sketch_ok``
    asserts it within ``bound`` of the exact distinct count — 5σ wide
    for the same reason as :func:`vocab_sketch` (rsd is a σ, not a
    guarantee; the tight 3σ check is a test, not a correctness gate).
    """
    h = F.md5(F.col("text").cast("binary"))
    return (
        docs.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(h).cast("long").alias("n_unique_exact"),
            F.approx_count_distinct(h, HLL_RSD).alias("_approx"),
        )
        .select(
            "n_docs", "n_unique_exact",
            F.round(1.0 - F.col("n_unique_exact") / F.col("n_docs"), 4)
            .alias("dup_rate4"),
            (F.abs(F.col("_approx") - F.col("n_unique_exact"))
             <= F.lit(bound) * F.col("n_unique_exact")).alias("sketch_ok"),
        )
    )


def approx_percentile_audit(df: DataFrame) -> DataFrame:
    """Exact ``AUDIT_PCTS`` percentiles of ``value`` per ``event_type`` +
    rank-contract audit of ``approx_percentile``.

    (event_type, pct, exact4, sketch_ok)

    ``approx_percentile`` (Greenwald-Khanna summary, mergeable) promises
    the returned element's RANK is within n/AUDIT_ACCURACY of the target rank
    — a rank guarantee, not a value guarantee, so the audit recounts:
    for each approximate answer v, rank(v) = |{x ≤ v}| must satisfy
    |rank − p·n| ≤ n/AUDIT_ACCURACY + 1. The recount joins the group-level
    approx table (tiny: |groups|·|pcts| rows, broadcast) back onto the
    data — one extra scan, zero extra shuffles of the big side.

    ``exact4`` is the interpolated exact percentile (percentile_cont
    semantics, hash-matched by the DuckDB oracle's quantile_cont).
    """
    plist = list(AUDIT_PCTS)
    agg = df.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.percentile_approx("value", plist, AUDIT_ACCURACY).alias("apx"),
        F.percentile("value", F.array(*[F.lit(p) for p in plist])).alias("exc"),
    )
    per_pct = agg.select(
        "event_type", "n",
        F.explode(F.arrays_zip(
            F.array(*[F.lit(p) for p in plist]).alias("p"),
            F.col("apx").alias("av"),
            F.col("exc").alias("ev"),
        )).alias("z"),
    ).select(
        "event_type", "n", F.col("z.p").alias("p"), F.col("z.av").alias("av"),
        F.col("z.ev").alias("ev"),
    )
    ranks = (
        df.select("event_type", "value")
        .join(F.broadcast(per_pct.select("event_type", "p", "av")), "event_type")
        .groupBy("event_type", "p")
        .agg(F.sum(F.when(F.col("value") <= F.col("av"), 1).otherwise(0))
             .cast("long").alias("rank_av"))
    )
    return (
        per_pct.join(F.broadcast(ranks), ["event_type", "p"])
        .select(
            "event_type",
            F.concat(F.lit("p"), (F.col("p") * 100).cast("int").cast("string"))
            .alias("pct"),
            F.round("ev", 4).alias("exact4"),
            (F.abs(F.col("rank_av") - F.col("p") * F.col("n"))
             <= F.col("n") / AUDIT_ACCURACY + 1).alias("sketch_ok"),
        )
    )


def _mg_merge(summary: dict, batch_counts: dict, k: int) -> dict:
    """Merge a batch's counts into a Misra-Gries summary of ≤ k counters.

    Merge = add, then subtract the (k+1)-th largest count from everything
    and drop non-positives — the standard mergeable-MG step (Agarwal et
    al., "Mergeable Summaries"), preserving undercount error ≤ n/(k+1).
    """
    for item, c in batch_counts.items():
        summary[item] = summary.get(item, 0) + c
    if len(summary) > k:
        cut = sorted(summary.values(), reverse=True)[k]
        summary = {i: c - cut for i, c in summary.items() if c > cut}
    return summary


def heavy_hitters(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """Exact frequent items (count·k ≥ N) via sketch-pruned two-pass plan.

    (item, cnt) — EXACT, despite the sketch: pass 1 runs a Misra-Gries
    summary of k counters per partition inside ``mapInPandas`` (never
    shuffles the raw column; any item with global frequency ≥ N/k has
    partition frequency ≥ N_p/k in at least one partition, and MG's
    undercount error < N_p/(k+1) keeps its counter alive there — so the
    union of per-partition candidates is a SUPERSET of the true heavy
    hitters). Pass 2 broadcast-semi-joins the candidate set (≤ k per
    partition) and recounts exactly, so only candidate rows reach the
    aggregate. At 100 TB this replaces a full-vocabulary shuffle with a
    map-only pass plus an aggregate over a filtered sliver.

    The MG pass also emits each partition's NON-NULL row count on a
    sentinel row, so N (the threshold denominator) comes out of the same
    single scan — no separate ``items.count()`` job — and counts the
    same null-free universe the candidates and the recount see
    (``value_counts`` drops nulls; so does the semi join). The output
    ``item`` column keeps the input column's type — the schema is
    derived, not hardcoded to string.
    """
    import pyarrow  # noqa: F401 — Arrow path required

    item_type = df.schema[col].dataType.simpleString()

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary: dict = {}
        n_part = 0
        for pdf in batches:
            counts = pdf["item"].value_counts()  # drops nulls
            n_part += int(counts.sum())
            summary = _mg_merge(summary, counts.to_dict(), k)
        cand = list(summary.keys())
        # candidates carry n_part=0; one null-item sentinel carries the
        # partition's row count, so sum(n_part) over everything is N
        yield pd.DataFrame(
            {"item": cand + [None], "n_part": [0] * len(cand) + [n_part]}
        )

    items = df.select(F.col(col).alias("item"))
    # one scan of items; the MG output is tiny (≤ k+1 rows per partition)
    mg = items.mapInPandas(
        mg_partition, f"item {item_type}, n_part long"
    ).localCheckpoint(eager=True)
    candidates = mg.where(F.col("item").isNotNull()).select("item").distinct()
    total = mg.agg(F.sum("n_part").cast("long").alias("n"))
    return (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * k >= F.col("n"))
        .select("item", "cnt")
    )
