"""Extended Structured Streaming surface (SURVEY.md §2.B Streaming rows not
covered by the WAL consumer tests): stream-stream interval join, streaming
session windows, watermark late-data drop, stateful per-key processing via
applyInPandasWithState, update output mode, and the rate source.

The reference has no event-time semantics at all (WAL order is arrival
order, WalConsumer.java:27); everything here is [EXTENSION] surface.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _write_ts_file(spark, path: str, rows: list[tuple], schema: str) -> None:
    ts_cols = [f.split()[0] for f in schema.split(",") if "STRING_TS" in f]
    raw_schema = schema.replace("STRING_TS", "STRING")
    df = spark.createDataFrame(rows, raw_schema)
    for c in ts_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    df.coalesce(1).write.mode("append").parquet(path)


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + a time-range condition:
    each click joins impressions of the same user within the prior hour."""
    imp_dir = str(tmp_path / "impressions")
    clk_dir = str(tmp_path / "clicks")
    _write_ts_file(
        spark, imp_dir,
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")],
        "user_id LONG, imp_ts STRING_TS",
    )
    _write_ts_file(
        spark, clk_dir,
        [(1, "2024-01-01 10:30:00"),   # within 1h of user 1's impression
         (2, "2024-01-01 11:30:00")],  # > 1h after user 2's impression
        "user_id LONG, clk_ts STRING_TS",
    )
    imps = (
        spark.readStream.schema("user_id LONG, imp_ts TIMESTAMP").parquet(imp_dir)
        .withWatermark("imp_ts", "2 hours")
    )
    clks = (
        spark.readStream.schema("user_id LONG, clk_ts TIMESTAMP").parquet(clk_dir)
        .withWatermark("clk_ts", "2 hours")
        .withColumnRenamed("user_id", "c_user_id")
    )
    joined = imps.join(
        clks,
        F.expr(
            "user_id = c_user_id AND clk_ts >= imp_ts AND clk_ts <= imp_ts + INTERVAL 1 HOUR"
        ),
    )
    q = (
        joined.writeStream.format("memory").queryName("ssij")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select user_id from ssij").collect()
    assert [r.user_id for r in rows] == [1]


def test_streaming_session_window(spark, tmp_path):
    """session_window(ts, gap): rows closer than the gap merge into one
    session; a larger silence starts a new one."""
    src = str(tmp_path / "sessions")
    _write_ts_file(
        spark, src,
        [(7, "2024-01-01 00:00:00"), (7, "2024-01-01 00:03:00"),  # one session
         (7, "2024-01-01 01:00:00")],                              # new session
        "user_id LONG, ts STRING_TS",
    )
    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory").queryName("sess")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["session_window"]["start"].isoformat(), r["n"])
        for r in spark.sql("select * from sess").collect()
    )
    assert got == [("2024-01-01T00:00:00", 2), ("2024-01-01T01:00:00", 1)]


def test_watermark_drops_late_data(spark, tmp_path):
    """A row arriving after the watermark passed its window is discarded
    (SURVEY.md §2.B 'watermark + late-data drop').

    The guaranteed drop point is the checkpoint-restored watermark: within
    one run Spark may still merge a late row into live state (watermark
    filtering is best-effort intra-run — verified empirically on 4.1: a late
    row in batch N+1 joins state evicted only at end of batch N+1). Across a
    restart the watermark comes from the checkpoint, the closed window is
    gone from state, and the late row is counted in
    numRowsDroppedByWatermark. This test exercises that contract."""
    src = str(tmp_path / "late")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")
    schema = "event_id LONG, ts STRING_TS"

    def run():
        stream = (
            spark.readStream.schema("event_id LONG, ts TIMESTAMP")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return q

    # run 1: one event in the 00:00 window, one at 01:00 advancing the watermark
    _write_ts_file(spark, src, [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 01:00:00")], schema)
    run()
    # run 2 (restart from checkpoint, watermark=01:00): late event for the
    # already-closed-and-emitted 00:00 window
    _write_ts_file(spark, src, [(3, "2024-01-01 00:06:00")], schema)
    q2 = run()

    emitted = sorted((r.ws.isoformat(), r.n) for r in spark.read.parquet(out).collect())
    assert emitted == [("2024-01-01T00:00:00", 1)]  # n=1: late row NOT added
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 1


def test_stateful_apply_in_pandas_with_state(spark, tmp_path):
    """applyInPandasWithState: running per-key event count carried across
    micro-batches (SURVEY.md §2.B 'stateful per-key processing'; the 100 TB
    generalization of the reference's per-entity sequential apply,
    WalConsumer.java:157-165 — state is partitioned by key, not global)."""
    src = str(tmp_path / "stateful")
    schema = "k STRING, ts STRING_TS"
    _write_ts_file(spark, src, [("a", "2024-01-01 00:00:01"), ("b", "2024-01-01 00:00:02")], schema)
    time.sleep(1.1)
    _write_ts_file(spark, src, [("a", "2024-01-01 00:00:03")], schema)

    out_type = StructType(
        [StructField("k", StringType()), StructField("running_n", LongType())]
    )
    state_type = StructType([StructField("n", LongType())])

    def count_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "running_n": [n]})

    stream = (
        spark.readStream.schema(
            StructType([StructField("k", StringType()), StructField("ts", TimestampType())])
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("k")
        .applyInPandasWithState(
            count_fn, out_type, state_type, "update", "NoTimeout"
        )
    )
    q = (
        stream.writeStream.format("memory").queryName("stateful_counts")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = [(r.k, r.running_n) for r in spark.sql("select * from stateful_counts").collect()]
    # batch1 emits a=1, b=1; batch2 emits a=2 (state carried)
    assert ("a", 2) in rows and ("b", 1) in rows and ("a", 1) in rows


def test_update_output_mode(spark, tmp_path):
    """Update output mode re-emits only changed aggregate rows per batch."""
    src = str(tmp_path / "upd")
    schema = "k STRING, ts STRING_TS"
    _write_ts_file(spark, src, [("x", "2024-01-01 00:00:01"), ("y", "2024-01-01 00:00:02")], schema)
    time.sleep(1.1)
    _write_ts_file(spark, src, [("x", "2024-01-01 00:00:03")], schema)

    stream = (
        spark.readStream.schema("k STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory").queryName("upd_mode")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = [(r.k, r.n) for r in spark.sql("select * from upd_mode").collect()]
    # x appears twice (n=1 then n=2); y exactly once (unchanged in batch 2)
    assert rows.count(("y", 1)) == 1 and ("x", 1) in rows and ("x", 2) in rows


def test_rate_source_smoke(spark):
    """The rate source generates (timestamp, value) rows — used as the
    always-on load generator for soak tests (SURVEY.md §2.B sources)."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    q = (
        stream.writeStream.format("memory").queryName("rate_smoke")
        .outputMode("append").start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("select count(*) n from rate_smoke").collect()[0].n > 0:
                break
            time.sleep(0.5)
        else:
            raise AssertionError("rate source produced no rows in 30s")
    finally:
        q.stop()
    cols = set(spark.table("rate_smoke").columns)
    assert cols == {"timestamp", "value"}


def test_transform_with_state_in_pandas(spark, tmp_path):
    """transformWithStateInPandas (Spark 4.x stateful API). Environment-gated:
    the Python runner needs a working protobuf install, absent in this
    container — skipped here, exercised on a full cluster image.

    Re-attempted rounds 3, 4, 5 and 6 (2026-08-14): `pip install protobuf`
    fails at DNS resolution of the configured index ("Failed to establish
    a new connection: [Errno -2] Name or service not known") — the
    container has no network route to any package index.

    Re-attempted round 9 (2026-08-16): the configured index now resolves
    but serves no distribution ("Could not find a version that satisfies
    the requirement protobuf (from versions: none)"); `pillow` is likewise
    absent.

    Re-attempted round 10 (2026-08-16): back to DNS failure — every retry
    of `pip install protobuf` / `pillow` ends in "Failed to establish a
    new connection: [Errno -2] Name or service not known" against the
    configured index; `import google.protobuf` still raises
    ModuleNotFoundError. Still container-gated.

    Re-attempted round 11 (2026-08-16): unchanged — DNS failure on every
    retry for both `protobuf` and `pillow`; `import google.protobuf`
    still raises ModuleNotFoundError. Still container-gated.

    Re-attempted round 12 (2026-08-16): unchanged — DNS failure
    ("[Errno -2] Name or service not known") on every retry for both
    `protobuf` and `pillow`; `import google.protobuf` and `import PIL`
    both still raise ModuleNotFoundError. Still container-gated."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql.streaming import StatefulProcessor

    class Counter(StatefulProcessor):
        def init(self, handle):
            self.count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        def close(self):
            pass

    src = str(tmp_path / "tws")
    spark.createDataFrame([("a",), ("b",), ("a",)], "k STRING").coalesce(1) \
        .write.mode("append").parquet(src)
    out_t = StructType([StructField("k", StringType()), StructField("n", LongType())])
    q = (
        spark.readStream.schema("k STRING").parquet(src)
        .groupBy("k")
        .transformWithStateInPandas(
            statefulProcessor=Counter(), outputStructType=out_t,
            outputMode="Update", timeMode="None",
        )
        .writeStream.format("memory").queryName("tws_gated")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted((r.k, r.n) for r in spark.sql("select * from tws_gated").collect()) \
        == [("a", 2), ("b", 1)]


def test_transform_with_state_scenario_under_apply_in_pandas(spark, tmp_path):
    """Scenario-parity twin of test_transform_with_state_in_pandas above,
    runnable in THIS container: identical input ([a, b, a]), identical
    per-key counter state machine, identical expected output — expressed
    with applyInPandasWithState. The container cannot run the v2 API at all
    (the Python runner imports google.protobuf, and no protobuf install
    exists here — not a version break; vendoring was ruled out since
    installs are unavailable), so this pins the BEHAVIOR the v2 test will
    re-verify on a full image: migrating is renaming the call and moving
    the handler into a StatefulProcessor, nothing semantic."""
    src = str(tmp_path / "tws_twin")
    spark.createDataFrame([("a",), ("b",), ("a",)], "k STRING").coalesce(1) \
        .write.mode("append").parquet(src)

    out_t = StructType([StructField("k", StringType()), StructField("n", LongType())])
    state_t = StructType([StructField("n", LongType())])

    def counter(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    q = (
        spark.readStream.schema("k STRING").parquet(src)
        .groupBy("k")
        .applyInPandasWithState(counter, out_t, state_t, "update", "NoTimeout")
        .writeStream.format("memory").queryName("tws_twin")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted((r.k, r.n) for r in spark.sql("select * from tws_twin").collect()) \
        == [("a", 2), ("b", 1)]


def test_incremental_rollup_stream_matches_batch(spark, tmp_path):
    """Micro-batched incremental rollup maintenance converges to exactly the
    from-scratch GROUP BY, regardless of batch boundaries (exact decimal
    merge algebra; streaming/incremental.py)."""
    from tests.conftest import SF_SMOKE
    from wal_consumer_spark.sources.tables import load_table
    from wal_consumer_spark.streaming.incremental import (
        IncrementalRollup,
        ParquetRollupTarget,
        maintain_rollup_stream,
    )

    e = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    src = str(tmp_path / "src")
    # three uneven, non-empty chunks, each its own file -> its own micro-batch
    lo, hi = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    cuts = [lo, lo + (hi - lo) // 10, lo + (hi - lo) // 2, hi + 1]
    for a, b in zip(cuts, cuts[1:]):
        e.filter((F.col("event_id") >= a) & (F.col("event_id") < b)) \
            .coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rollup = IncrementalRollup(["event_type"], "value")
    target = ParquetRollupTarget(spark, str(tmp_path / "state"))
    q = maintain_rollup_stream(
        spark, stream, rollup, target, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    def version(t) -> int:  # the committed state's version number
        (v,) = t._manifest().values()
        return v

    assert version(target) >= 3  # one merge per file/micro-batch

    got = sorted(map(tuple, rollup.finish(target.read()).collect()))
    want = sorted(
        map(
            tuple,
            rollup.finish(rollup.apply_batch(None, e)).collect(),
        )
    )
    assert got == want

    # replay idempotency: the non-idempotent sum/count merge must skip a
    # re-delivered batch id (foreachBatch is at-least-once), and a fresh
    # target instance must recover the persisted state from disk.
    from wal_consumer_spark.streaming.incremental import merge_batch_into

    n_versions = version(target)
    last = target.last_batch_id
    assert last >= 2
    recovered = ParquetRollupTarget(spark, target.path)
    assert recovered.last_batch_id == last  # state recovered from disk, not memory
    before = sorted(map(tuple, rollup.finish(recovered.read()).collect()))
    merge_batch_into(rollup, recovered, e.limit(50), last)  # duplicate delivery
    assert version(recovered) == n_versions  # no-op: no new version
    after = sorted(map(tuple, rollup.finish(recovered.read()).collect()))
    assert after == before
    # a genuinely new batch id still merges
    merge_batch_into(rollup, recovered, e.limit(50), last + 1)
    assert version(recovered) == n_versions + 1


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """Stream-stream LEFT OUTER join with watermarks + time-range condition:
    impressions with no click within the hour emit with NULL click columns
    once the watermark passes the join window."""
    imp_dir = str(tmp_path / "li_impressions")
    clk_dir = str(tmp_path / "li_clicks")
    _write_ts_file(
        spark, imp_dir,
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00"),
         (3, "2024-01-01 10:10:00")],
        "user_id LONG, imp_ts STRING_TS",
    )
    _write_ts_file(
        spark, clk_dir,
        [(1, "2024-01-01 10:30:00"),
         # user 99's click matches no impression; user 2/3 never click.
         (99, "2024-01-01 10:31:00"),
         # fencepost far ahead so the watermark closes the join windows
         (50, "2024-01-02 12:00:00")],
        "user_id LONG, clk_ts STRING_TS",
    )
    out = str(tmp_path / "li_out")
    ckpt = str(tmp_path / "li_ckpt")

    def run():
        imp = (
            spark.readStream.schema("user_id LONG, imp_ts TIMESTAMP").parquet(imp_dir)
            .withWatermark("imp_ts", "0 seconds")
        )
        clk = (
            spark.readStream.schema("user_id LONG, clk_ts TIMESTAMP").parquet(clk_dir)
            .withWatermark("clk_ts", "0 seconds")
            .withColumnRenamed("user_id", "clk_user")
        )
        joined = imp.join(
            clk,
            F.expr(
                "user_id = clk_user AND "
                "clk_ts BETWEEN imp_ts AND imp_ts + INTERVAL 1 HOUR"
            ),
            "leftOuter",
        )
        q = (
            joined.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    # unmatched-side NULL emission happens when evicted state is processed in
    # a LATER batch than the one that advanced the watermark — and the global
    # watermark is the MIN across both streams, so BOTH sides need a
    # fencepost event before the 10:00-10:10 impressions can close.
    _write_ts_file(
        spark, clk_dir, [(51, "2024-01-02 13:00:00")], "user_id LONG, clk_ts STRING_TS"
    )
    _write_ts_file(
        spark, imp_dir, [(98, "2024-01-02 13:00:00")], "user_id LONG, imp_ts STRING_TS"
    )
    run()
    # one more empty-ish batch so the state evicted at the end of the
    # previous run is emitted
    _write_ts_file(
        spark, clk_dir, [(52, "2024-01-02 14:00:00")], "user_id LONG, clk_ts STRING_TS"
    )
    _write_ts_file(
        spark, imp_dir, [(97, "2024-01-02 14:00:00")], "user_id LONG, imp_ts STRING_TS"
    )
    run()
    rows = {
        (r.user_id, r.clk_user)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 1) in rows  # matched within the hour
    assert (2, None) in rows and (3, None) in rows  # unmatched emit NULLs
    assert not any(u == 99 for _, u in rows if u is not None)


def test_streaming_cms_heavy_hitters(spark, tmp_path):
    """Count-min sketches maintained per micro-batch (cms_merge in
    foreachBatch) converge to the full-build sketch: streaming heavy-hitter
    tracking with O(depth x width) state regardless of stream length."""
    from tests.conftest import SF_SMOKE
    from wal_consumer_spark.operators.sketch import cms_build, cms_estimate, cms_merge
    from wal_consumer_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    src = str(tmp_path / "cms_src")
    lo, hi = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    mid = (lo + hi) // 2
    for a, b in [(lo, mid), (mid, hi + 1)]:
        e.filter((F.col("event_id") >= a) & (F.col("event_id") < b)) \
            .coalesce(1).write.mode("append").parquet(src)

    state = {"sketch": None}

    def merge_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        s = cms_build(batch_df, "event_type")
        prev = state["sketch"]
        merged = s if prev is None else cms_merge(prev, s)
        # pin the merged cells so the next batch's lineage doesn't re-read
        # prior batches (bounded state, same discipline as incremental.py)
        state["sketch"] = spark.createDataFrame(
            merged.collect(), "cms_row INT, cms_bucket INT, cell_count LONG"
        )

    q = (
        spark.readStream.schema("event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    est_stream = {r.event_type: r.est_count for r in
                  cms_estimate(state["sketch"], e.select("event_type"),
                               "event_type").collect()}
    est_full = {r.event_type: r.est_count for r in
                cms_estimate(cms_build(e, "event_type"), e.select("event_type"),
                             "event_type").collect()}
    assert est_stream == est_full
