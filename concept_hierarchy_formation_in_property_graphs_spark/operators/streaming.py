"""Structured Streaming surface for event tables.

The reference has no streaming operators (its "incremental" Cobweb is
order-dependent sequential insertion — SURVEY §2.5), so batch + checkpoint
is the faithful execution model for the KG pipeline. This module covers the
stream-ingest side a production deployment needs anyway: the same windowed
aggregations as `q_events_hourly`, expressed over `readStream` with an
event-time watermark, so late events are handled and state is bounded.

`Trigger.AvailableNow` gives exactly-once batch-equivalent semantics:
tests assert stream output == the batch groupBy on the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from .dedup import committed_ids

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _drain(writer: DataStreamWriter, timeout_sec: int, message: str) -> StreamingQuery:
    """Start ``writer`` with an AvailableNow trigger and wait for it to
    drain; stop it and raise ``TimeoutError(message)`` past
    ``timeout_sec``. Returns the completed StreamingQuery."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(message)
    return q


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over an events parquet directory (at cluster
    scale: Kafka or an Iceberg streaming read — same downstream plan)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window per event_type with a late-data
    watermark; works identically on a batch or streaming DataFrame."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def rollup_time_buckets(events: DataFrame, ts_col: str = "ts",
                        keys: tuple[str, ...] = ("event_type",),
                        value_col: str = "value") -> dict[str, DataFrame]:
    """Hypertable-style continuous-aggregate ladder: hourly buckets from
    the raw events, DAILY buckets re-aggregated FROM THE HOURLY table —
    each coarser granularity reads the previous rollup (hours per day,
    not raw rows per day), which is what makes a year of 100 TB telemetry
    re-aggregable in seconds. count/sum compose losslessly; min/max too;
    avg is carried as (sum, count).

    Returns {"hourly": df, "daily": df} with
    (bucket, *keys, n_events, sum_value).
    """
    hourly = (
        events.groupBy(
            F.date_trunc("hour", ts_col).alias("bucket"), *keys
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket").alias("bucket"), *keys
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    r2 = lambda df: df.withColumn("sum_value", F.round("sum_value", 2))  # noqa: E731
    return {"hourly": r2(hourly), "daily": r2(daily)}


def sessionize_batch(events: DataFrame, gap_sec: int = 43_200) -> DataFrame:
    """Gap-based sessionization, batch form: a new session starts when the
    inter-event gap within a user exceeds ``gap_sec``. Classic lag →
    boundary-flag → running-sum → groupBy; all window/aggregate, codegen'd,
    one shuffle on user_id. Microsecond-exact boundary comparison via
    unix_micros so the DuckDB twin (epoch_us) reproduces it bit-for-bit.

    Returns (user_id, session_start, session_end, n_events, sum_value).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = F.lag("ts").over(w)
    # interval comparison works for TIMESTAMP and TIMESTAMP_NTZ alike and
    # is microsecond-exact — matches the oracle's epoch_us() difference
    new_s = F.when(
        lagged.isNull()
        | (F.col("ts") > lagged + F.expr(f"INTERVAL {gap_sec} SECONDS")),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        events.select("user_id", "ts", "value")
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .drop("sid")
    )


def sessionize_stream(events: DataFrame, gap_sec: int = 43_200) -> DataFrame:
    """Gap-based sessionization as a CUSTOM STATEFUL streaming operator —
    ``applyInPandasWithState`` keeps one open session per user across
    micro-batches and emits a session row the moment a later event closes
    it (append mode; the open tail stays in state).

    State is (start_ns, last_ns, n, sum) per user — O(#users), bounded.
    Assumes per-user event-time order across micro-batches (time-ordered
    ingest, e.g. Kafka partitions keyed by user or time-bucketed files);
    within a batch events are sorted here. The batch twin is
    ``sessionize_batch``; tests assert stream(closed) == batch minus each
    user's final (still-open) session across multi-batch runs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = "start_ns long, last_ns long, n long, s double"

    def fn(key, pdf_iter, state: GroupState):
        (uid,) = key
        chunks = [pdf[["ts", "value"]] for pdf in pdf_iter]
        if not chunks:
            return
        data = pd.concat(chunks).sort_values("ts")
        if state.exists:
            start_ns, last_ns, n, s = state.get
        else:
            start_ns = last_ns = None
            n, s = 0, 0.0
        closed: list[tuple] = []
        gap_ns = gap_sec * 1_000_000_000
        for ts, val in zip(data["ts"], data["value"]):
            t = int(pd.Timestamp(ts).value)
            if last_ns is None:
                start_ns, last_ns, n, s = t, t, 1, float(val)
            elif t - last_ns > gap_ns:
                closed.append((int(uid), start_ns, last_ns, n, s))
                start_ns, last_ns, n, s = t, t, 1, float(val)
            else:
                last_ns, n, s = max(last_ns, t), n + 1, s + float(val)
        state.update((start_ns, last_ns, n, s))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end",
                         "n_events", "sum_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="ns")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="ns")
            yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def run_hierarchy_stream(instances_stream: DataFrame, state_dir: str,
                         timeout_sec: int = 300):
    """Streaming concept-hierarchy maintenance: every micro-batch of
    instances (instance_id, intent ARRAY<STRING>) merges its concept-sized
    intent-state delta via ``merge_batch_into_state`` (``concepts.intent_state``
    + ``concepts.merge_intent_state``) — the streaming
    form of the reference's incremental Cobweb insertion, order-free.

    State layout under ``state_dir``:
      state/v{batch_id}/   versioned intent-state snapshots (tiny)
      CURRENT              pointer to the committed version (readers only)
      inst/b{batch_id}/    per-batch instance→cid map
    REPLAY SAFETY (foreachBatch is at-least-once): the handler never
    derives its input from CURRENT — a crash between the CURRENT repoint
    and the stream-checkpoint commit would make CURRENT already contain
    batch N, so a replay reading it would merge the delta twice. Instead
    prev = the highest _SUCCESS-committed version STRICTLY BELOW batch_id,
    which a replay of batch N reproduces exactly; the instance map writes
    to a per-batch directory with overwrite, so replays rewrite rather
    than duplicate. CURRENT is repointed last, purely for readers.

    Returns the completed StreamingQuery; read the result with
    ``hierarchy_from_state_dir`` or ``hierarchy_at`` (pass ``galois``
    there — the flag only affects materialization, not the maintained
    state).
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_state(batch_df, batch_id, state_dir)

    return _drain(
        instances_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", state_dir + "/_ckpt"),
        timeout_sec, "hierarchy stream did not drain",
    )


def merge_batch_into_state(batch_df: DataFrame, batch_id: int,
                           state_dir: str) -> None:
    """The foreachBatch handler body of :func:`run_hierarchy_stream`,
    exposed module-level so the replay contract is directly testable:
    calling this twice with the same ``batch_id`` must leave the state
    byte-identical to calling it once (idempotent replay).

    Old instances are never rescanned: a batch adds only its concept-sized
    intent-state delta. The tree is a pure function of the merged state,
    so ingesting D1 then D2 and reading ``hierarchy_from_state_dir`` is
    BIT-IDENTICAL to ``build_hierarchy(D1 ∪ D2)`` in either order,
    including the leaf→inner transition where earlier instances remap to a
    fresh residual leaf (tests/test_concepts.py)."""
    import os

    from .concepts import _canonical_intents, intent_state, merge_intent_state

    spark = batch_df.sparkSession
    prev_versions = [v for v in state_versions(state_dir) if v < batch_id]
    prev = (
        spark.read.parquet(
            os.path.join(state_dir, "state", f"v{prev_versions[-1]}")
        )
        if prev_versions
        else None
    )
    delta = intent_state(batch_df)
    state = delta if prev is None else merge_intent_state(prev, delta)
    vdir = os.path.join(state_dir, "state", f"v{batch_id}")
    state.write.mode("overwrite").parquet(vdir)
    _canonical_intents(batch_df).write.mode("overwrite").parquet(
        os.path.join(state_dir, "inst", f"b{batch_id}")
    )
    tmp = os.path.join(state_dir, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(f"v{batch_id}")
    os.replace(tmp, os.path.join(state_dir, "CURRENT"))


def current_version(state_dir: str) -> int | None:
    """Batch id the CURRENT pointer names, or None before the first commit.
    CURRENT is the transaction authority: dirs above it (state/v{N} or
    inst/b{N} left by a run that crashed before repointing) are orphans a
    relaunch overwrites — readers must never union them in."""
    import os

    cur = os.path.join(state_dir, "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return int(f.read().strip().lstrip("v"))


def hierarchy_from_state_dir(spark: SparkSession, state_dir: str,
                             galois: bool = False) -> dict:
    """Materialize the full hierarchy tables from a stream's state dir:
    :func:`hierarchy_at` the CURRENT version, so orphan dirs above it (a
    crashed run's, about to be overwritten by the relaunch) and half-written
    dirs never contribute."""
    cur = current_version(state_dir)
    if cur is None:
        raise ValueError(f"no committed state under {state_dir}")
    return hierarchy_at(spark, state_dir, cur, galois)


def state_versions(state_dir: str) -> list[int]:
    """Committed snapshot versions, oldest first — the time-travel axis."""
    import os

    return committed_ids(os.path.join(state_dir, "state"), "v")


def prune_state(state_dir: str, keep_last: int = 5) -> list[int]:
    """Snapshot retention: drop all but the newest ``keep_last`` committed
    ``state/v{N}`` snapshots (each is a cumulative merge, so old ones are
    pure time-travel convenience — the ladder otherwise grows one
    concept-sized table per micro-batch forever). Returns removed ids.

    ``inst/b{N}`` dirs are NEVER pruned here: the newest snapshot still
    needs every instance batch to materialize assignments. Time travel
    below the retention horizon raises (see :func:`hierarchy_at`) rather
    than silently answering from the wrong snapshot.
    """
    import os
    import shutil

    versions = state_versions(state_dir)
    removed = []
    for v in versions[:-keep_last] if keep_last > 0 else versions[:-1]:
        shutil.rmtree(os.path.join(state_dir, "state", f"v{v}"))
        removed.append(v)
    return removed


def hierarchy_at(spark: SparkSession, state_dir: str, batch_id: int,
                 galois: bool = False) -> dict:
    """Time travel: the hierarchy exactly as of ``batch_id``.

    The versioned layout (``state/v{N}`` snapshots + per-batch
    ``inst/b{N}`` dirs, both _SUCCESS-committed) makes any committed
    batch reconstructible after the fact: intent state from the highest
    snapshot <= batch_id, instances from only the batches <= batch_id.
    ``hierarchy_from_state_dir`` is this call at the CURRENT version, so
    the answer for a past batch equals what was served when it WAS
    current (pinned in tests), and audits and reproductions never need
    the stream replayed.
    """
    import os

    from .concepts import _hierarchy_from_state

    versions = [v for v in state_versions(state_dir) if v <= batch_id]
    if not versions:
        raise ValueError(
            f"no committed state at or below batch {batch_id} "
            f"under {state_dir}"
        )
    snap = versions[-1]
    idir = os.path.join(state_dir, "inst")
    wanted = [b for b in committed_ids(idir, "b") if b <= batch_id]
    # the snapshot must cover every instance batch in the window — a
    # pruned intermediate snapshot silently falling back to older state
    # would drop those batches' intents
    uncovered = [b for b in wanted if b > snap]
    if uncovered:
        raise ValueError(
            f"state snapshot v{snap} does not cover instance batches "
            f"{uncovered} (pruned or uncommitted) — cannot time-travel "
            f"to batch {batch_id}"
        )
    state = spark.read.parquet(os.path.join(state_dir, "state", f"v{snap}"))
    inst = spark.read.parquet(
        *[os.path.join(idir, f"b{b}") for b in wanted]
    )
    return _hierarchy_from_state(spark, state, inst, root_seed="c", galois=galois)


def run_dedup_stream(docs_stream: DataFrame, store_dir: str,
                     mode: str = "exact", timeout_sec: int = 300,
                     compact_every: int | None = None, **dedup_kw):
    """Streaming ingestion dedup: every micro-batch of documents
    (doc_id, text, ...) is deduplicated against the persisted seen store via
    ``dedup.ingest_batch_exact`` / ``ingest_batch_near_dup`` — the streaming
    form of batch-incremental corpus dedup. Replay-safe for the same reason
    the hierarchy stream is: the handlers derive history from committed
    per-batch _SUCCESS markers strictly below the current batch id and
    write per-batch directories in overwrite mode, so an at-least-once
    replay rewrites instead of duplicating.

    ``compact_every=K`` folds the store's accumulated per-batch dirs into
    a single committed generation after every K-th batch
    (``dedup.compact_store``) — without it a long-lived ingest pays one
    directory listing + parquet footer per historical batch on every
    micro-batch's history scan (the classic small-file creep). Compaction
    runs AFTER the batch's own writes commit and covers only ids strictly
    below the newest committed batch, so the replay contract is untouched:
    a replay of batch N still reads exactly the ids < N (from the
    generation), and a crash mid-compaction leaves the loose dirs as the
    fallback authority.

    Read the deduplicated corpus with ``dedup.load_retained``.
    """
    from .dedup import compact_store, ingest_batch_exact, ingest_batch_near_dup

    ingest = {"exact": ingest_batch_exact, "near_dup": ingest_batch_near_dup}[mode]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest(batch_df, store_dir, batch_id, **dedup_kw)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_store(batch_df.sparkSession, store_dir)

    return _drain(
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", store_dir + "/_ckpt"),
        timeout_sec, "dedup stream did not drain",
    )


def run_stream_available_now(result: DataFrame, query_name: str,
                             checkpoint_dir: str, timeout_sec: int = 120,
                             output_mode: str = "complete"):
    """Drain all available input into an in-memory sink (exactly-once),
    return the completed StreamingQuery.

    Raises TimeoutError if the drain does not finish within
    ``timeout_sec`` — a partial memory table must never be mistaken for
    the full result.

    ``output_mode`` caveat: the default ``complete`` keeps ALL window
    state for the lifetime of the query (the watermark never drops
    anything) — correct and bounded for an AvailableNow drain over a
    finite input, which is what this helper is for. A long-running
    24/7 deployment should instead write ``append`` mode to a real sink:
    with the watermark from ``windowed_event_counts``, each window is
    emitted once finalized and its state is evicted, keeping state
    bounded by (watermark horizon / window size).
    """
    return _drain(
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
        f"stream {query_name!r} did not drain within {timeout_sec}s; "
        "memory table would be partial",
    )


def run_watermark_dedup_stream(events_stream: DataFrame, out_dir: str,
                               key_cols: list[str] | None = None,
                               ts_col: str = "ts", delay: str = "1 hour",
                               timeout_sec: int = 300):
    """Built-in streaming dedup: ``dropDuplicatesWithinWatermark`` keeps
    the first arrival per key and ages its dedup state out with the
    watermark — O(keys-within-delay) state instead of the unbounded
    all-history state plain streaming ``dropDuplicates`` would hold.

    This is the engine-native complement to ``run_dedup_stream``: that
    operator deduplicates against a *persistent cross-run* seen store
    (corpus ingestion), this one bounds state for *within-stream*
    duplicate events (at-least-once sources re-delivering inside the
    delay window). Appends the surviving rows to a parquet sink with an
    AvailableNow drain.
    """
    key_cols = key_cols or ["event_id"]
    return _drain(
        events_stream.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(key_cols)
        .writeStream.format("parquet")
        .option("path", out_dir + "/data")
        .option("checkpointLocation", out_dir + "/_ckpt")
        .outputMode("append"),
        timeout_sec, "watermark dedup stream did not drain",
    )
