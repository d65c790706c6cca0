"""Streaming windowed aggregation == batch aggregation on the same files
(AvailableNow exactly-once semantics)."""

from __future__ import annotations

import shutil
import tempfile

from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
    read_events_stream,
    run_stream_available_now,
    windowed_event_counts,
)


def test_stream_equals_batch_hourly_counts(spark):
    # the file stream source requires a directory — stage the table file
    src_dir = tempfile.mkdtemp(prefix="chf_stream_src_")
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                src_dir + "/part-0.parquet")
    src = src_dir
    ck = tempfile.mkdtemp(prefix="chf_stream_ck_")
    try:
        stream = read_events_stream(spark, src)
        assert stream.isStreaming
        res = windowed_event_counts(stream)
        q = run_stream_available_now(res, "hourly_counts", ck)
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.table("hourly_counts").collect()
        }
        batch = windowed_event_counts(spark.read.parquet(src))
        exp = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in batch.collect()
        }
        assert got == exp and len(got) > 0
        q.stop()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)


def test_stateful_sessionization_stream_equals_batch(spark):
    """Custom stateful operator: applyInPandasWithState sessionization over
    THREE time-ordered micro-batches must close exactly the sessions the
    batch twin closes — per-user state (the open session) survives batch
    boundaries, so sessions spanning files merge correctly."""
    import os
    import time

    import pandas as pd

    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        sessionize_batch,
        sessionize_stream,
    )

    GAP = 6 * 3600  # 6 h — several sessions per user on the sf0.001 events
    src_dir = tempfile.mkdtemp(prefix="chf_sess_src_")
    ck = tempfile.mkdtemp(prefix="chf_sess_ck_")
    try:
        full = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
        full = full.sort_values("ts").reset_index(drop=True)
        # three sequential time ranges → three micro-batches in event-time order
        cuts = [0, len(full) // 3, 2 * len(full) // 3, len(full)]
        for i in range(3):
            p = os.path.join(src_dir, f"{i}.parquet")
            full.iloc[cuts[i]:cuts[i + 1]].to_parquet(p)
            os.utime(p, (time.time() + i, time.time() + i))  # mtime order = file order

        stream = read_events_stream(spark, src_dir, max_files_per_trigger=1)
        q = run_stream_available_now(
            sessionize_stream(stream, gap_sec=GAP), "sessions_stream", ck,
            output_mode="append",
        )
        got = {
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], round(r["sum_value"], 2))
            for r in spark.table("sessions_stream").collect()
        }
        q.stop()

        batch = sessionize_batch(spark.read.parquet(src_dir), gap_sec=GAP).collect()
        # the stream never closes each user's FINAL session (no later event)
        last_start = {}
        for r in batch:
            if (r["user_id"] not in last_start
                    or r["session_start"] > last_start[r["user_id"]]):
                last_start[r["user_id"]] = r["session_start"]
        exp = {
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], round(r["sum_value"], 2))
            for r in batch
            if r["session_start"] != last_start[r["user_id"]]
        }
        assert len(exp) > 0
        assert got == exp
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_hierarchy_equals_batch_build(spark):
    """Streaming concept maintenance (foreachBatch + versioned intent
    state) over three micro-batches must land on exactly the hierarchy a
    batch build computes over all instances at once."""
    import os
    import random
    import time

    import pandas as pd

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        hierarchy_from_state_dir,
        run_hierarchy_stream,
    )

    rows = [
        (f"i{k:03d}", sorted({random.Random(900 + k).choice("abcde") for _ in range(3)}))
        for k in range(60)
    ]
    src_dir = tempfile.mkdtemp(prefix="chf_hstream_src_")
    state_dir = tempfile.mkdtemp(prefix="chf_hstream_state_")
    try:
        for i in range(3):
            chunk = rows[i * 20:(i + 1) * 20]
            p = os.path.join(src_dir, f"{i}.parquet")
            pd.DataFrame(chunk, columns=["instance_id", "intent"]).to_parquet(p)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("instance_id string, intent array<string>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        run_hierarchy_stream(stream, state_dir)
        got = hierarchy_from_state_dir(spark, state_dir, galois=True)
        batch = build_hierarchy(_inst_df(spark, rows), galois=True)
        for key in ("concepts", "assignments", "closure"):
            assert sorted(map(tuple, got[key].collect())) == sorted(
                map(tuple, batch[key].collect())
            ), f"stream != batch in {key}"
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(state_dir, ignore_errors=True)


def _inst_df(spark, rows):
    return spark.createDataFrame(rows, "instance_id string, intent array<string>")


def test_hierarchy_stream_replay_is_idempotent(spark):
    """foreachBatch is at-least-once: replaying a micro-batch (crash after
    the CURRENT repoint but before the stream-checkpoint commit) must leave
    the persisted state identical to a single delivery — prev is derived
    from the highest committed version BELOW the batch id, never from
    CURRENT, and inst/ writes per-batch with overwrite."""
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        hierarchy_from_state_dir,
        merge_batch_into_state,
    )

    rows = [
        (f"r{k:03d}", sorted({random.Random(70 + k).choice("abcd") for _ in range(3)}))
        for k in range(40)
    ]
    state_dir = tempfile.mkdtemp(prefix="chf_replay_state_")
    try:
        merge_batch_into_state(_inst_df(spark, rows[:20]), 0, state_dir)
        merge_batch_into_state(_inst_df(spark, rows[20:]), 1, state_dir)
        once = hierarchy_from_state_dir(spark, state_dir)
        snap = {
            key: sorted(map(tuple, once[key].collect()))
            for key in ("concepts", "assignments")
        }
        # crash-replay: batch 1 delivered again with CURRENT already at v1
        merge_batch_into_state(_inst_df(spark, rows[20:]), 1, state_dir)
        again = hierarchy_from_state_dir(spark, state_dir)
        for key, want in snap.items():
            assert sorted(map(tuple, again[key].collect())) == want, (
                f"replay changed {key}"
            )
        # and the replayed state still equals the batch build over all rows
        batch = build_hierarchy(_inst_df(spark, rows))
        assert snap["concepts"] == sorted(map(tuple, batch["concepts"].collect()))
        # the persisted layout holds only the columns the engine reads
        read = spark.read.parquet
        assert read(f"{state_dir}/state/v1").columns == ["cid", "intent", "n_exact"]
        assert read(f"{state_dir}/inst/b1").columns == ["instance_id", "cid"]
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_time_travel_hierarchy_at_reconstructs_past_batches(spark):
    """hierarchy_at(batch_id) must rebuild exactly the hierarchy that was
    current when that batch committed — i.e. the batch build over only
    the instances ingested up to and including it — without replaying the
    stream. The latest version must equal hierarchy_from_state_dir."""
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        hierarchy_at,
        hierarchy_from_state_dir,
        merge_batch_into_state,
        state_versions,
    )

    rows = [
        (f"t{k:03d}", sorted({random.Random(500 + k).choice("abcde") for _ in range(3)}))
        for k in range(60)
    ]
    state_dir = tempfile.mkdtemp(prefix="chf_tt_state_")
    try:
        for i in range(3):
            merge_batch_into_state(_inst_df(spark, rows[i * 20:(i + 1) * 20]), i, state_dir)
        assert state_versions(state_dir) == [0, 1, 2]

        for upto in range(3):
            past = hierarchy_at(spark, state_dir, upto)
            want = build_hierarchy(_inst_df(spark, rows[: (upto + 1) * 20]))
            for key in ("concepts", "assignments"):
                assert sorted(map(tuple, past[key].collect())) == sorted(
                    map(tuple, want[key].collect())
                ), f"time travel to batch {upto} diverged in {key}"

        latest = hierarchy_from_state_dir(spark, state_dir)
        at2 = hierarchy_at(spark, state_dir, 2)
        assert sorted(map(tuple, at2["concepts"].collect())) == sorted(
            map(tuple, latest["concepts"].collect())
        )

        import pytest as _pytest

        with _pytest.raises(ValueError):
            hierarchy_at(spark, state_dir, -1)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_prune_state_retention_and_time_travel_guard(spark):
    """prune_state keeps the newest snapshots only; time travel below the
    retention horizon must raise (not silently answer from older state),
    while the latest hierarchy stays byte-identical after pruning."""
    import os
    import random

    import pytest as _pytest

    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        hierarchy_at,
        hierarchy_from_state_dir,
        merge_batch_into_state,
        prune_state,
        state_versions,
    )

    rows = [
        (f"p{k:03d}", sorted({random.Random(800 + k).choice("abcd") for _ in range(3)}))
        for k in range(40)
    ]
    state_dir = tempfile.mkdtemp(prefix="chf_prune_state_")
    try:
        for i in range(4):
            merge_batch_into_state(_inst_df(spark, rows[i * 10:(i + 1) * 10]), i, state_dir)
        before = sorted(
            map(tuple, hierarchy_from_state_dir(spark, state_dir)["concepts"].collect())
        )

        assert prune_state(state_dir, keep_last=2) == [0, 1]
        assert state_versions(state_dir) == [2, 3]
        # inst dirs untouched
        assert sorted(os.listdir(os.path.join(state_dir, "inst"))) == [
            "b0", "b1", "b2", "b3"
        ]

        after = sorted(
            map(tuple, hierarchy_from_state_dir(spark, state_dir)["concepts"].collect())
        )
        assert after == before

        # retained versions still time-travel; pruned ones refuse
        hierarchy_at(spark, state_dir, 2)
        with _pytest.raises(ValueError, match="batch 1"):
            hierarchy_at(spark, state_dir, 1)

        # a snapshot gap (manual deletion / partial commit) must refuse
        # rather than answer from older state missing newer batches
        shutil.rmtree(os.path.join(state_dir, "state", "v3"))
        with _pytest.raises(ValueError, match="does not cover"):
            hierarchy_at(spark, state_dir, 3)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_watermark_dedup_stream_equals_batch_distinct(spark, tmp_path):
    """dropDuplicatesWithinWatermark over an at-least-once source: the
    drained sink holds exactly the batch-distinct event set (duplicate
    rows are byte-identical, so the kept-first policy is unambiguous)."""
    import datetime as dt

    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        run_watermark_dedup_stream,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=i), f"u{i % 3}") for i in range(30)]
    dups = rows[::3]  # every 3rd event re-delivered
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "event_id long, ts timestamp, user string") \
        .write.parquet(src + "/b0")
    spark.createDataFrame(dups + rows[1::3],
                          "event_id long, ts timestamp, user string") \
        .write.parquet(src + "/b1")

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = str(tmp_path / "out")
    run_watermark_dedup_stream(stream, out, key_cols=["event_id"],
                               delay="2 hours")
    got = sorted(
        (r["event_id"], r["user"])
        for r in spark.read.parquet(out + "/data").collect()
    )
    assert got == sorted((i, f"u{i % 3}") for i in range(30))


def test_batch_job_crash_orphans_are_overwritten_not_duplicated(spark):
    """The batch-ingest crash window: a run writes state/v{N} + inst/b{N}
    (both _SUCCESS-committed) but dies before repointing CURRENT. The
    relaunch must OVERWRITE the orphan dirs (version = CURRENT + 1), and
    readers must ignore orphans above CURRENT — otherwise the batch's
    instances appear in both inst/b{N} and inst/b{N+1} and every extent
    double-counts."""
    import os
    import random

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        current_version,
        hierarchy_from_state_dir,
        merge_batch_into_state,
    )

    rows = [
        (f"r{k:03d}", sorted({random.Random(700 + k).choice("abcd") for _ in range(3)}))
        for k in range(40)
    ]
    state_dir = tempfile.mkdtemp(prefix="chf_crash_state_")
    try:
        merge_batch_into_state(_inst_df(spark, rows[:20]), 0, state_dir)
        # crashed run: batch 1 fully written, CURRENT never repointed
        merge_batch_into_state(_inst_df(spark, rows[20:]), 1, state_dir)
        with open(os.path.join(state_dir, "CURRENT"), "w") as f:
            f.write("v0")  # rewind = crash before os.replace

        # reader sees only the committed prefix — orphan b1 is invisible
        assert current_version(state_dir) == 0
        partial = hierarchy_from_state_dir(spark, state_dir)
        want0 = sorted(map(tuple, build_hierarchy(
            _inst_df(spark, rows[:20]))["concepts"].collect()))
        assert sorted(map(tuple, partial["concepts"].collect())) == want0

        # relaunch (run_incremental_job's derivation): CURRENT + 1 = 1 —
        # overwrites the orphan v1/b1 instead of allocating v2/b2
        version = current_version(state_dir) + 1
        assert version == 1
        merge_batch_into_state(_inst_df(spark, rows[20:]), version, state_dir)
        assert not os.path.exists(os.path.join(state_dir, "state", "v2"))
        assert not os.path.exists(os.path.join(state_dir, "inst", "b2"))

        got = hierarchy_from_state_dir(spark, state_dir)
        want = {
            key: sorted(map(tuple, tbl.collect()))
            for key, tbl in build_hierarchy(_inst_df(spark, rows)).items()
            if key in ("concepts", "assignments")
        }
        for key, w in want.items():
            assert sorted(map(tuple, got[key].collect())) == w, (
                f"crash recovery diverged on {key}"
            )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
