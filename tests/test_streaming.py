"""Streaming fidelity tests: the reference's end-to-end scenario
(WalConsumerTest.java:53-95, SURVEY.md §5) ported to the Structured
Streaming consumer — sequential ops, idempotent replay, IO-failure retry,
incremental checkpointed consumption — plus streaming window/dedup queries
over the events table replayed as a stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wal_consumer_spark.streaming import BucketedParquetKeyValueTarget, WalStreamConsumer

WAL_COLS = "id LONG, entity_id LONG, operation STRING, entity_bytes BINARY, entity_type STRING"


def _write_wal_file(spark, wal_dir, records, start_id):
    rows = [
        (i, k, op, v.encode() if v is not None else None, "TestEntity")
        for i, (k, op, v) in enumerate(records, start=start_id)
    ]
    (
        spark.createDataFrame(rows, WAL_COLS)
        .coalesce(1)
        .write.mode("append")
        .parquet(wal_dir)
    )
    return start_id + len(records)


def _state(target):
    return {
        r.entity_id: bytes(r.entity_bytes).decode()
        for r in target.read().collect()
    }


def _drain(consumer):
    consumer.start(available_now=True)
    consumer.await_backlog_drained()
    consumer.close()


def test_reference_scenario_end_to_end(spark, tmp_path):
    """ADD -> UPDATE -> DELETE sequence consumed via the streaming path
    converges to the dict-oracle state (WalConsumerTest.java:113-127),
    across two checkpointed consumption rounds."""
    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")
    next_id = _write_wal_file(
        spark, wal,
        [(1, "ADD", "a1"), (2, "ADD", "b1"), (1, "UPDATE", "a2"), (3, "ADD", "c1")],
        start_id=1,
    )
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(spark, wal, ckpt, target)
    _drain(c)
    assert _state(target) == {1: "a2", 2: "b1", 3: "c1"}
    assert c.metrics.num_synchronized == 3
    assert c.metrics.num_ignored_already_done == 0

    # R11: a second file appended later is picked up from the checkpoint —
    # only the new records are processed.
    _write_wal_file(spark, wal, [(2, "DELETE", None), (4, "ADD", "d1")], start_id=next_id)
    c2 = WalStreamConsumer(spark, wal, ckpt, target)
    _drain(c2)
    assert _state(target) == {1: "a2", 3: "c1", 4: "d1"}
    assert c2.metrics.num_synchronized == 2


def test_replay_counts_already_done(spark, tmp_path):
    """R10: replaying the WAL with a fresh checkpoint over an already-applied
    target reports records as ignored_already_done, not re-synchronized
    (WalConsumer.java:271-278)."""
    wal, tgt = str(tmp_path / "wal"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1"), (2, "ADD", "b1")], start_id=1)
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(spark, wal, str(tmp_path / "ckpt1"), target)
    _drain(c)
    assert c.metrics.num_synchronized == 2

    c2 = WalStreamConsumer(spark, wal, str(tmp_path / "ckpt2"), target)
    _drain(c2)
    assert _state(target) == {1: "a1", 2: "b1"}
    assert c2.metrics.num_ignored_already_done == 2
    assert c2.metrics.num_synchronized == 0


def test_io_failure_retries_until_success(spark, tmp_path):
    """R9: an IOException from the sink callback is retried (with backoff)
    until it succeeds; the record is not lost (WalConsumer.java:259-269)."""
    wal, tgt = str(tmp_path / "wal"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1")], start_id=1)
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    failures = {"left": 2}

    def flaky_callback(batch_df):
        if failures["left"] > 0:
            failures["left"] -= 1
            raise IOError("sink unavailable")  # WalConsumerTest.java:75-76
        return True

    c = WalStreamConsumer(
        spark, wal, str(tmp_path / "ckpt"), target,
        callback=flaky_callback, sleep_on_io_failure=0.05,
    )
    _drain(c)
    assert _state(target) == {1: "a1"}
    assert c.metrics.num_io_failures == 2
    assert c.metrics.num_synchronized == 1


def test_callback_false_means_already_done(spark, tmp_path):
    """Callback returning false == 'was already done'
    (WalEntityConsumerCallback.java:10-17, WalConsumerTest.java:67-68):
    the batch advances without re-applying."""
    wal, tgt = str(tmp_path / "wal"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1")], start_id=1)
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(
        spark, wal, str(tmp_path / "ckpt"), target, callback=lambda b: False
    )
    _drain(c)
    assert _state(target) == {}  # nothing applied — it was "already done"
    assert c.metrics.num_ignored_already_done == 1


def test_add_update_delete_readd_one_key(spark, tmp_path):
    """SURVEY.md §4.3: four ops on one key in one batch reduce to the last
    op by id, so a DELETE followed by a re-ADD leaves the re-ADD."""
    wal, tgt = str(tmp_path / "wal"), str(tmp_path / "tgt")
    _write_wal_file(
        spark, wal,
        [(1, "ADD", "x1"), (1, "UPDATE", "x2"), (1, "DELETE", None), (1, "ADD", "x3")],
        start_id=1,
    )
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(spark, wal, str(tmp_path / "ckpt"), target)
    _drain(c)
    assert _state(target) == {1: "x3"}


def test_streaming_window_agg_matches_batch(spark, tmp_path):
    """Streaming watermarked tumbling window over events (replayed as a file
    stream) matches the batch window aggregate — same expression, same
    results once the backlog is drained."""
    from wal_consumer_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events_stream")
    events.write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["event_type"], r["n"])
        for r in spark.sql("select * from win_agg").collect()
    }
    expected = {
        (r["window"]["start"], r["event_type"], r["n"])
        for r in events.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming dropDuplicates within a watermark (SURVEY.md §2.B
    'streaming dedup'): duplicate event_ids across files are emitted once."""
    src = str(tmp_path / "dup_stream")
    rows1 = [(1, "2024-01-01 00:00:01", "click"), (2, "2024-01-01 00:00:02", "view")]
    rows2 = [(2, "2024-01-01 00:00:02", "view"), (3, "2024-01-01 00:00:03", "click")]
    schema = "event_id LONG, ts_s STRING, event_type STRING"
    for rows in (rows1, rows2):
        (
            spark.createDataFrame(rows, schema)
            .select(F.col("event_id"), F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP, event_type STRING")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.event_id for r in spark.sql("select * from dedup_stream").collect())
    assert ids == [1, 2, 3]


def test_type_routed_targets(spark, tmp_path):
    """A shared WAL carrying two entity types routes each type to its own
    target; entity_id collides across types and must not cross-contaminate
    (streaming/routing.py reduces per type, keyed (entity_type, entity_id))."""
    from wal_consumer_spark.streaming.routing import TypeRoutedTarget

    rows = [
        # (id, entity_id, operation, payload, entity_type) — entity_id 1
        # exists in BOTH types with different histories
        (1, 1, "ADD", b"u1-v1", "user"),
        (2, 1, "ADD", b"a1-v1", "account"),
        (3, 1, "UPDATE", b"u1-v2", "user"),
        (4, 2, "ADD", b"a2-v1", "account"),
        (5, 1, "DELETE", None, "account"),
        (6, 2, "ADD", b"u2-v1", "user"),
    ]
    wal = spark.createDataFrame(rows, WAL_COLS)
    routed = TypeRoutedTarget(spark, str(tmp_path / "targets"))
    routed.apply_batch(wal)

    users = {
        r.entity_id: bytes(r.entity_bytes).decode()
        for r in routed.target_for("user").read().collect()
    }
    accounts = {
        r.entity_id: bytes(r.entity_bytes).decode()
        for r in routed.target_for("account").read().collect()
    }
    assert users == {1: "u1-v2", 2: "u2-v1"}
    assert accounts == {2: "a2-v1"}  # account#1 deleted; user#1 untouched
    assert routed.types() == ["account", "user"]


def test_bucketed_target_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property behind BucketedParquetKeyValueTarget: a batch
    touching one key re-versions only that key's bucket — every other
    bucket's manifest entry and on-disk files stay untouched (VERDICT.md r1
    'What's wrong' #4; reference delete+commit WalHeadHandle.java:29-42)."""
    import glob

    from wal_consumer_spark.operators.cdc import last_op_per_key, apply_cdc_batch

    tgt = str(tmp_path / "tgt")
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    seed = spark.createDataFrame(
        [(i, i, "ADD", f"v{i}".encode(), "T") for i in range(1, 41)],
        WAL_COLS,
    )
    reduced = last_op_per_key(seed)
    target.write_for(apply_cdc_batch(target.read_for(reduced), reduced), reduced)
    manifest_before = target._manifest()
    files_before = set(glob.glob(f"{tgt}/v*/*.parquet"))
    assert len(manifest_before) > 1  # state spans several buckets

    one = spark.createDataFrame([(100, 7, "UPDATE", b"v7b", "T")], WAL_COLS)
    red1 = last_op_per_key(one)
    touched = target.touched_buckets(red1)
    assert len(touched) == 1
    target.write_for(apply_cdc_batch(target.read_for(red1), red1), red1)
    manifest_after = target._manifest()

    # only the touched bucket advanced its version
    for b, v in manifest_before.items():
        if int(b) == touched[0]:
            assert manifest_after[b] > v
        else:
            assert manifest_after[b] == v
    # no pre-existing file was rewritten or removed
    assert files_before <= set(glob.glob(f"{tgt}/v*/*.parquet"))
    # and the state is correct
    assert _state(target)[7] == "v7b"


def test_backlog_gauge_counts_unconsumed_records(spark, tmp_path):
    """R14 with the reference's semantics (WalConsumer.java:78-88,322-333):
    a half-drained WAL reports the number of records beyond the applied
    high-water mark, not the last trigger's row count."""
    wal, tgt = str(tmp_path / "wal"), str(tmp_path / "tgt")
    next_id = _write_wal_file(
        spark, wal, [(1, "ADD", "a1"), (2, "ADD", "b1")], start_id=1
    )
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(spark, wal, str(tmp_path / "ckpt"), target)
    _drain(c)
    assert c.backlog(max_age=0) == 0

    # three more records arrive, not yet consumed by this (stopped) query
    _write_wal_file(
        spark, wal,
        [(3, "ADD", "c1"), (1, "UPDATE", "a2"), (4, "ADD", "d1")],
        start_id=next_id,
    )
    assert c.backlog(max_age=0) == 3
    assert c.metrics.backlog == 3
    # cache honors max_age: a stale read within the window returns the
    # cached value even after more appends
    _write_wal_file(spark, wal, [(5, "ADD", "e1")], start_id=next_id + 3)
    assert c.backlog(max_age=300) == 3
    assert c.backlog(max_age=0) == 4


def test_source_failure_backoff_and_recovery(spark, tmp_path):
    """R13 (WalConsumer.java:136-142): a WAL source failure moves the state
    gauge to INACCESSIBLE_IO_FAILURE and the supervisor restarts the query
    with backoff against the same checkpoint until the source is readable
    again — consumption then resumes exactly where it left off (no loss, no
    double-apply). Failure injection: a corrupt parquet file appears in the
    WAL dir (the moral equivalent of the DB becoming unreachable), then is
    replaced in place by a valid file."""
    import time as _time

    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1")], start_id=1)
    consumer = WalStreamConsumer(
        spark,
        wal,
        ckpt,
        BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8),
        trigger_interval="1 second",
        sleep_on_io_failure=0.3,
    )
    consumer.start_supervised()
    try:
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline and _state(consumer.target) != {1: "a1"}:
            _time.sleep(0.2)
        assert _state(consumer.target) == {1: "a1"}

        corrupt = f"{wal}/part-corrupt.parquet"
        with open(corrupt, "wb") as f:
            f.write(b"this is not a parquet file")
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline and consumer.metrics.num_io_failures == 0:
            _time.sleep(0.2)
        assert consumer.metrics.num_io_failures >= 1

        # source becomes readable again: same path, now-valid content
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "id": pa.array([2], pa.int64()),
                "entity_id": pa.array([2], pa.int64()),
                "operation": pa.array(["ADD"], pa.string()),
                "entity_bytes": pa.array([b"b1"], pa.binary()),
                "entity_type": pa.array(["TestEntity"], pa.string()),
            }
        )
        pq.write_table(table, corrupt)
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline and _state(consumer.target) != {
            1: "a1",
            2: "b1",
        }:
            _time.sleep(0.2)
        assert _state(consumer.target) == {1: "a1", 2: "b1"}
        assert consumer.metrics.num_io_failures >= 1
    finally:
        consumer.close()


def test_cross_process_lock_sentinel(spark, tmp_path):
    """Single-consumer exclusion holds across processes: even with no
    in-process registry state, a second consumer on the same checkpoint
    fails fast on the lock sentinel; a sentinel from a dead process is
    broken and taken over."""
    import os

    from wal_consumer_spark.streaming import consumer as consumer_mod

    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1")], start_id=1)
    c1 = WalStreamConsumer(spark, wal, ckpt, BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8))
    c1.start()
    try:
        # simulate a different process: wipe the in-process registry so only
        # the on-disk sentinel can enforce exclusion... except the sentinel
        # records THIS live pid, which is exactly the cross-process case of
        # a live foreign owner.
        saved = set(consumer_mod._ACTIVE_CONSUMERS)
        consumer_mod._ACTIVE_CONSUMERS.clear()
        lock = f"{ckpt}/_wcs_lock"
        with open(lock, "w", encoding="utf-8") as f:
            f.write("999999999")  # a pid that cannot be alive

        def fake_alive(pid):
            return pid == 999999999

        orig_alive = consumer_mod._pid_alive
        consumer_mod._pid_alive = fake_alive
        try:
            c2 = WalStreamConsumer(
                spark, wal, ckpt, BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
            )
            import pytest

            with pytest.raises(RuntimeError, match="locked by live consumer"):
                c2.start()
        finally:
            consumer_mod._pid_alive = orig_alive
        # dead-owner sentinel: with the real liveness check, pid 999999999
        # is dead -> the lock is broken and the consumer takes over.
        c3 = WalStreamConsumer(
            spark, wal, str(tmp_path / "ckpt2"),
            BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8),
        )
        os.makedirs(f"{tmp_path}/ckpt2", exist_ok=True)
        with open(f"{tmp_path}/ckpt2/_wcs_lock", "w", encoding="utf-8") as f:
            f.write("999999999")
        c3.start()
        c3.close()
        assert not os.path.exists(f"{tmp_path}/ckpt2/_wcs_lock")
    finally:
        consumer_mod._ACTIVE_CONSUMERS.clear()
        consumer_mod._ACTIVE_CONSUMERS.update(saved)
        c1.close()


def test_bucketed_target_replay_after_crash_no_duplicates(spark, tmp_path):
    """Crash window: version files land but the manifest commit never runs
    (process dies between the parquet write and _commit_manifest). The
    foreachBatch replay recomputes the same version number — the write must
    OVERWRITE the partial attempt, not append to it, or every row of the
    first attempt is duplicated in the committed state."""
    from wal_consumer_spark.operators.cdc import apply_cdc_batch, last_op_per_key

    tgt = str(tmp_path / "tgt")
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=4)
    seed = spark.createDataFrame(
        [(i, i, "ADD", f"v{i}".encode(), "T") for i in range(1, 9)], WAL_COLS
    )
    reduced = last_op_per_key(seed)

    real_commit = target._commit_manifest
    crashed = {"n": 0}

    def crashing_commit(manifest):
        crashed["n"] += 1
        raise RuntimeError("simulated crash before manifest commit")

    target._commit_manifest = crashing_commit
    try:
        target.write_for(apply_cdc_batch(target.read_for(reduced), reduced), reduced)
    except RuntimeError:
        pass
    assert crashed["n"] == 1
    assert _state(target) == {}  # nothing committed — old state intact

    # foreachBatch replay: same batch against the same (empty) manifest
    target._commit_manifest = real_commit
    target.write_for(apply_cdc_batch(target.read_for(reduced), reduced), reduced)
    rows = target.read().collect()
    assert len(rows) == 8  # one row per key — no duplicated first attempt
    assert _state(target) == {i: f"v{i}" for i in range(1, 9)}


def test_rollup_target_ignores_partial_version_dir(spark, tmp_path):
    """Crash window: a version dir without Spark's _SUCCESS marker must not
    count as committed — otherwise last_batch_id claims the batch was
    applied (the replay is then skipped and its data lost) and read()
    abandons all accumulated state."""
    import os

    from wal_consumer_spark.streaming.incremental import (
        IncrementalRollup,
        ParquetRollupTarget,
        merge_batch_into,
    )

    rollup = IncrementalRollup(group_cols=["k"], measure="v")
    target = ParquetRollupTarget(spark, str(tmp_path / "roll"))
    b0 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k STRING, v DOUBLE")
    merge_batch_into(rollup, target, b0, 0)
    assert target.last_batch_id == 0

    # simulate a crash mid-write of batch 1: dir exists, no _SUCCESS
    partial = f"{target.path}/v2_b1"
    os.makedirs(partial)
    with open(f"{partial}/part-garbage.parquet", "wb") as f:
        f.write(b"not parquet")

    assert target.last_batch_id == 0  # partial dir is NOT committed
    b1 = spark.createDataFrame([("a", 4.0), ("b", 8.0)], "k STRING, v DOUBLE")
    merge_batch_into(rollup, target, b1, 1)  # replay must actually merge
    final = {r["k"]: (r["n"], r["total"]) for r in rollup.finish(target.read()).collect()}
    assert final["a"][0] == 3 and abs(final["a"][1] - 7.0) < 1e-9
    assert final["b"][0] == 1 and abs(final["b"][1] - 8.0) < 1e-9


def test_backlog_gauge_survives_restart(spark, tmp_path):
    """R14 after a restart: the applied-id high-water mark is persisted next
    to the checkpoint, so a fresh consumer instance on a drained WAL reports
    backlog 0 instead of re-counting every already-consumed record."""
    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")
    _write_wal_file(spark, wal, [(1, "ADD", "a1"), (2, "ADD", "b1")], start_id=1)
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    c = WalStreamConsumer(spark, wal, ckpt, target)
    _drain(c)
    assert c.backlog(max_age=0) == 0

    restarted = WalStreamConsumer(
        spark, wal, ckpt, BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    )
    assert restarted.backlog(max_age=0) == 0  # NOT 2
    _write_wal_file(spark, wal, [(3, "ADD", "c1")], start_id=3)
    assert restarted.backlog(max_age=0) == 1


def test_bucketed_target_gc_removes_only_unreferenced_versions(spark, tmp_path):
    """gc() deletes version dirs no manifest entry references and leaves
    every referenced one readable — state is byte-identical after the
    sweep."""
    import os

    from wal_consumer_spark.operators.cdc import apply_cdc_batch, last_op_per_key

    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"), n_buckets=4)
    for step in range(3):  # three writes to the same key: two dead versions
        one = spark.createDataFrame(
            [(step + 1, 1, "ADD" if step == 0 else "UPDATE", f"v{step}".encode(), "T")],
            WAL_COLS,
        )
        red = last_op_per_key(one)
        target.write_for(apply_cdc_batch(target.read_for(red), red), red)
    before = _state(target)
    removed = target.gc()
    assert len(removed) == 2  # v1, v2 superseded; v3 referenced
    assert _state(target) == before
    live = {f"v{v}" for v in target._manifest().values()}
    on_disk = {n for n in os.listdir(target.path) if n.startswith("v")}
    assert on_disk == live


def test_rollup_damaged_newest_version_falls_back_and_remerges(spark, tmp_path):
    """read() and last_batch_id must agree on the newest READABLE version:
    if the newest committed dir is damaged out-of-band, the state falls
    back one version AND the damaged version's batch id stops claiming
    'already applied' — so the replay actually re-merges it instead of
    silently losing its deltas."""
    import os
    import shutil

    from wal_consumer_spark.streaming.incremental import (
        IncrementalRollup,
        ParquetRollupTarget,
        merge_batch_into,
    )

    rollup = IncrementalRollup(group_cols=["k"], measure="v")
    target = ParquetRollupTarget(spark, str(tmp_path / "roll"))
    merge_batch_into(rollup, target, spark.createDataFrame([("a", 1.0)], "k STRING, v DOUBLE"), 0)
    merge_batch_into(rollup, target, spark.createDataFrame([("a", 2.0)], "k STRING, v DOUBLE"), 1)
    assert target.last_batch_id == 1

    # damage the newest committed version out-of-band (keep _SUCCESS)
    vdir = f"{target.path}/v2_b1"
    for nm in os.listdir(vdir):
        if nm.endswith(".parquet"):
            os.remove(os.path.join(vdir, nm))
    shutil.rmtree(f"{vdir}/.crc", ignore_errors=True)

    assert target.last_batch_id == 0  # agrees with what read() can serve
    # the checkpoint replays batch 1: it must actually merge again
    merge_batch_into(rollup, target, spark.createDataFrame([("a", 2.0)], "k STRING, v DOUBLE"), 1)
    final = {r["k"]: (r["n"], r["total"]) for r in rollup.finish(target.read()).collect()}
    assert final["a"][0] == 2 and abs(final["a"][1] - 3.0) < 1e-9


def test_max_files_per_trigger_drains_in_bounded_batches(spark, tmp_path):
    """Ingest rate limiting (R12's production knob): with
    maxFilesPerTrigger=1, an N-file backlog drains as N micro-batches —
    each trigger's work is bounded by one WAL file, the backpressure
    control for a consumer restarted against a deep backlog."""
    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")
    next_id = 1
    for i in range(3):
        next_id = _write_wal_file(
            spark, wal, [(10 + i, "ADD", f"v{i}")], start_id=next_id
        )
    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    batches = []
    c = WalStreamConsumer(
        spark, wal, ckpt, target, max_files_per_trigger=1,
        callback=lambda df: batches.append(df.count()) or True,
    )
    _drain(c)
    assert _state(target) == {10: "v0", 11: "v1", 12: "v2"}
    assert batches == [1, 1, 1]  # one file -> one record per micro-batch


def test_soak_20_batches_consumer_crash_resume_equals_dict_oracle(spark, tmp_path):
    """VERDICT r6 'Next round' #7 (stretch) — the R11 exactly-once
    contract at soak length: 20 WAL files drained one-per-micro-batch
    through the checkpointed consumer against the bucketed
    (manifest-committed) target, with the process killed TWICE in the
    worst replay window — after the target write succeeded, before the
    checkpoint commit — and resumed each time by a fresh consumer on the
    same checkpoint + target directories (a real process restart: new
    objects, same durable state). Invariant: the final target equals a
    dict oracle applying every record in id order, with each replayed
    batch absorbed idempotently (no duplicates, no lost ops)."""

    wal, ckpt, tgt = str(tmp_path / "wal"), str(tmp_path / "ckpt"), str(tmp_path / "tgt")

    # 20 batches x 5 ops over 12 entities: deterministic churn with
    # cross-batch ADD/UPDATE/DELETE interleavings (entity e sees a DELETE
    # whenever step % 7 == 3, else upserts with a fresh payload).
    records: list[tuple[int, str, str | None]] = []
    for step in range(100):
        e = (step * 5) % 12 + 1
        if step % 7 == 3:
            records.append((e, "DELETE", None))
        elif step % 11 == 0:
            records.append((e, "ADD", f"v{step}"))
        else:
            records.append((e, "UPDATE", f"v{step}"))

    next_id = 1
    for b in range(20):
        next_id = _write_wal_file(
            spark, wal, records[b * 5 : (b + 1) * 5], start_id=next_id
        )

    # dict oracle in id order (ADD/UPDATE upsert, DELETE removes)
    oracle: dict[int, str] = {}
    for e, op, v in records:
        if op == "DELETE":
            oracle.pop(e, None)
        else:
            oracle[e] = v

    applied = {"n": 0}
    crash_after = {6, 13}  # batch counts to kill at (post-write)

    def run_consumer() -> bool:
        """One consumer 'process'; returns True if it crashed."""
        target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
        c = WalStreamConsumer(spark, wal, ckpt, target, max_files_per_trigger=1)
        real_apply = c._apply_batch

        def crashing_apply(batch_df, batch_id):
            real_apply(batch_df, batch_id)  # full apply INCLUDING write
            if not batch_df.isEmpty():
                applied["n"] += 1
                if applied["n"] in crash_after:
                    crash_after.discard(applied["n"])
                    # simulated kill AFTER the target manifest commit,
                    # BEFORE Spark commits the checkpoint offset
                    raise RuntimeError("injected post-write crash")

        c._apply_batch = crashing_apply
        crashed = False
        try:
            c.start(available_now=True)
            c.await_backlog_drained()
        except Exception:  # StreamingQueryException from the injected kill
            crashed = True
        finally:
            c.close()
        return crashed

    runs, crashes = 0, 0
    while runs < 6:  # 2 crashes + 1 clean drain expected; cap defensively
        runs += 1
        if not run_consumer():
            break
        crashes += 1

    assert crashes == 2, f"expected both injected crashes to fire, got {crashes}"
    assert applied["n"] >= 20  # every batch applied (replays re-count)

    final = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    assert _state(final) == oracle
