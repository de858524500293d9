"""The two CDC workloads.

cdc_trickle        open loop: a generator process publishes small WAL files
                   on a fixed schedule while a processingTime-triggered
                   WalStreamConsumer applies them to a small bucketed target.
cdc_backlog_drain  closed loop: a pre-seeded target and a fixed backlog; the
                   consumer drains it with available_now and a file cap per
                   trigger, then the target is read back in full.

Both end with the target compared against an engine-free replay of every
WAL file written.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, oracle, stats, trace
from perfbench.common import Run, log, median_time, repeated

TRICKLE_RATE = 200  # WAL records per second
TRICKLE_FILES_PER_S = 10
TRICKLE_MIX = gen.KeyMix(n_keys=100_000)
TRICKLE_SEED_ROWS = 5_000
TRICKLE_WARMUP_FILES = 1

DRAIN_MIX = gen.KeyMix(n_keys=400_000, hot_share=0.0)
DRAIN_SEED_ROWS = 100_000
DRAIN_PER_FILE = 1_000
DRAIN_FILES_PER_TRIGGER = 5
DRAIN_FILES = 20
DRAIN_WARMUP_FILES = 1


def _consumer(run: Run, root: str, target, **kw):
    from wal_consumer_spark.streaming.consumer import WalStreamConsumer

    return WalStreamConsumer(
        run.spark, f"{root}/wal", f"{root}/ckpt", target, **kw
    )


def _seed_target(run: Run, root: str, rows: int, mix: gen.KeyMix):
    """A fresh target at `root/target`, bootstrapped through target.write
    from one seeded parquet file. Returns the target, its initial state
    and the set-up time to leave out (see `repeated`)."""
    import numpy as np

    from wal_consumer_spark.streaming.consumer import BucketedParquetKeyValueTarget

    seed_file = f"{root}/seed_state.parquet"

    def make():
        state = gen.seed_state(np.random.default_rng([run.seed, 1]), rows, mix.n_keys)
        pq.write_table(state, seed_file)
        return state

    state, excess_s = repeated(make)
    target = BucketedParquetKeyValueTarget(run.spark, f"{root}/target")
    target.write(run.spark.read.parquet(seed_file))
    return target, state, excess_s


def _full_read_s(target) -> float:
    return median_time(
        lambda: target.read().agg(
            F.count(F.lit(1)), F.sum(F.length("entity_bytes")), F.max("entity_id")
        ).collect()
    )


def _check_state(run: Run, root: str, target, initial) -> None:
    expected = oracle.replay(oracle.read_wal_dir(f"{root}/wal"), initial)
    actual = target.read().toPandas()
    problem = oracle.state_mismatch(expected, actual)
    run.attempted += 1
    if problem:
        run.fail(f"target state differs from WAL replay: {problem}")


def _wait_committed(ckpt: str, names: set[str], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            batches = stats.file_batches(ckpt)
            commits = stats.commit_times_ns(ckpt)
        except FileNotFoundError:
            batches, commits = {}, {}
        if names <= batches.keys() and all(batches[n] in commits for n in names):
            return
        time.sleep(0.05)
    raise TimeoutError(f"WAL files not committed within {timeout_s} s")


class _Tracer:
    """What a traced CDC run adds: the target proxy and the progress
    listener."""

    def __init__(self, run: Run, target):
        self.run = run
        self.spans = trace.Spans()
        self.target = trace.TracedTarget(target, self.spans)
        self.listener = trace.ProgressLog()
        run.spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.run.spark.streams.removeListener(self.listener)


def _layer_metrics(run: Run, tr: _Tracer, run_id: str, first_batch: int, before: dict, consumer, ckpt: str, records_per_file: int) -> None:
    """Per-layer numbers of the measured batches (ids >= first_batch)."""
    sc = run.spark.sparkContext
    # numInputRows == 0: the idle progress events of a waiting query
    prog = [
        p for p in tr.listener.progress
        if p["runId"] == run_id and p["batchId"] >= first_batch and p["numInputRows"] > 0
    ]
    if not prog:
        raise RuntimeError("no traced micro-batch progress")
    # input records per batch from the file source's own log: the
    # progress numInputRows counts every scan foreachBatch makes
    files_in = {}
    for batch in stats.file_batches(ckpt).values():
        files_in[batch] = files_in.get(batch, 0) + 1
    rows = [files_in.get(p["batchId"], 0) * records_per_file for p in prog]

    def d(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    add = d("addBatch")
    m = run.metric
    m("sources.latest_offset_ms", stats.median(d("latestOffset")), "ms")
    m("sources.get_batch_ms", stats.median(d("getBatch")), "ms")
    m("sources.input_rows_per_batch", stats.median(rows), "count")
    m("consumer.batches", len(prog), "count")
    m("consumer.trigger_ms_p50", stats.median(d("triggerExecution")), "ms")
    m("consumer.add_batch_ms_p50", stats.median(add), "ms")
    m("consumer.add_batch_ms_p90", stats.percentile(add, 90)[0], "ms")
    m("consumer.query_planning_ms", stats.median(d("queryPlanning")), "ms")
    m("consumer.wal_commit_ms", stats.median(d("walCommit")), "ms")
    m("consumer.commit_offsets_ms", stats.median(d("commitOffsets")), "ms")
    m("consumer.io_failures", consumer.metrics.num_io_failures - before["io"], "count")

    # each batch's interval on the wall clock, from its progress record
    intervals = []
    for p in prog:
        start = _iso_ns(p["timestamp"])
        intervals.append((start, start + p["durationMs"]["triggerExecution"] * 1_000_000))

    def batch_of(t_ns):
        for i, (a, b) in enumerate(intervals):
            if a <= t_ns <= b:
                return i
        return None

    jobs = trace.job_info(sc, trace.group_jobs(sc, run_id))
    jobs = [j for j in jobs if batch_of(j["submitted_ms"] * 1_000_000) is not None]
    m("consumer.jobs_per_batch", len(jobs) / len(prog), "count")
    m("consumer.tasks_per_batch", sum(j["tasks"] for j in jobs) / len(prog), "count")
    for k, (v, unit) in trace.stage_totals(sc, [s for j in jobs for s in j["stages"]]).items():
        m(f"spark.{k}", v, unit)

    timed = [0.0] * len(prog)
    per_call: dict[str, list] = {}
    for name, a, b, attrs in tr.spans.items:
        i = batch_of(a)
        if i is None:
            continue
        timed[i] += (b - a) / 1e6
        per_call.setdefault(name, []).append(((b - a) / 1e6, attrs))
    m("consumer.apply_other_ms", stats.median([x - t for x, t in zip(add, timed)]), "ms")
    n_buckets = tr.target.n_buckets
    for name in ("touched_buckets", "read_for", "write_for"):
        calls = per_call.get(f"target.{name}", [])
        m(f"target.{name}_ms", stats.median([c[0] for c in calls]) if calls else 0.0, "ms")
    touched = per_call.get("target.touched_buckets", [])
    writes = per_call.get("target.write_for", [])
    m("target.buckets_touched_share", stats.median([c[1]["buckets"] / n_buckets for c in touched]) if touched else 0.0, "ratio")
    m("target.files_written_per_batch", stats.median([c[1]["files"] for c in writes]) if writes else 0.0, "count")
    m("target.mb_written_per_batch", stats.median([c[1]["bytes"] / 2**20 for c in writes]) if writes else 0.0, "MB")
    path = tr.target.path
    live = [trace.dir_files(f"{path}/v{v}/__bucket={b}") for b, v in trace.manifest(path).items()]
    m("target.files_per_full_read", sum(n for n, _ in live), "count")
    m("target.disk_mb", trace.dir_files(path)[1] / 2**20, "MB")
    synced = consumer.metrics.num_synchronized - before["sync"]
    done = consumer.metrics.num_ignored_already_done - before["done"]
    m("cdc.reduce_ratio", (synced + done) / sum(rows), "ratio")
    m("cdc.already_done", done, "count")
    run.spans = tr.spans.as_json() + [{"name": "progress", **p} for p in prog]


def _iso_ns(ts: str) -> int:
    from datetime import datetime

    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e9)


def _counters(consumer) -> dict:
    m = consumer.metrics
    return {"io": m.num_io_failures, "sync": m.num_synchronized, "done": m.num_ignored_already_done}


# -- cdc_trickle ------------------------------------------------------------


def trickle(run: Run) -> None:
    per_file = TRICKLE_RATE // TRICKLE_FILES_PER_S
    n_files = max(100, run.seconds * TRICKLE_FILES_PER_S)

    t_setup = time.perf_counter()
    root, stage, wal = run.path("trickle"), run.path("trickle", "stage"), run.path("trickle", "wal")
    # the generator process prepares its files while the consumer warms up
    args = {
        "seed": run.seed, "first_seq": TRICKLE_WARMUP_FILES, "n_files": n_files,
        "per_file": per_file, "mix": dataclasses.asdict(TRICKLE_MIX),
        "interval_s": 1 / TRICKLE_FILES_PER_S, "stage_dir": stage, "wal_dir": wal,
    }
    proc = subprocess.Popen(
        [sys.executable, gen.__file__, json.dumps(args)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        target, initial, prep_s = _seed_target(run, root, TRICKLE_SEED_ROWS, TRICKLE_MIX)
        tr = _Tracer(run, target) if run.trace else None
        consumer = _consumer(run, root, tr.target if tr else target)
        consumer.start()
        warm = gen.wal_files(run.seed, 0, TRICKLE_WARMUP_FILES, per_file, TRICKLE_MIX)
        for i, table in enumerate(warm):
            gen.publish(table, stage, wal, gen.wal_name(i), time.time_ns())
            consumer.query.processAllAvailable()
        run.metric("setup_s", run.session_start_s + time.perf_counter() - t_setup - prep_s, "s")
        first_batch = max(stats.commit_times_ns(f"{root}/ckpt")) + 1
        before = _counters(consumer)

        if proc.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed to start")
        # the processingTime trigger fires on whole multiples of its 1 s
        # interval; starting the schedule 50 ms past a tick fixes the phase
        # between the generator and the triggers from run to run
        proc.stdin.write(f"{(time.time_ns() // 1_000_000_000 + 2) * 1_000_000_000 + 50_000_000}\n")
        proc.stdin.flush()
        gen_log = json.loads(proc.stdout.readline())
        if proc.wait(timeout=30) != 0:
            raise RuntimeError(f"generator exited with {proc.returncode}")
        _wait_committed(f"{root}/ckpt", {r[0] for r in gen_log}, 300)
        consumer.close()
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        proc.stdin.close()
        proc.stdout.close()

    batch_of = stats.file_batches(f"{root}/ckpt")
    commit_ns = stats.commit_times_ns(f"{root}/ckpt")
    due = {name: d for name, d, _, _ in gen_log}
    lat = stats.apply_latencies_ms(due, batch_of, commit_ns)
    samples = list(lat.values())
    p50 = stats.median(samples)
    p90, beyond = stats.percentile(samples, 90)
    run.metric("latency_ms", stats.interquartile_mean(samples), "ms")
    records = sum(r[3] for r in gen_log)
    last_commit = max(commit_ns[batch_of[n]] for n in due)
    run.metric("p50_ms", p50, "ms")
    run.metric("p90_ms", p90, "ms")
    run.metric("throughput_per_s", records / ((last_commit - min(due.values())) / 1e9), "1/s")
    run.report["apply_latency_p50_ms"] = (p50, "ms")
    run.report["apply_latency_p90_ms"] = (p90, "ms")
    run.report["apply_latency_samples"] = (len(samples), "count")
    run.report["apply_latency_p90_beyond"] = (beyond, "count")
    window_batches = {batch_of[n] for n in due}
    run.attempted += len(window_batches) + consumer.metrics.num_io_failures - before["io"]
    run.failed += consumer.metrics.num_io_failures - before["io"]
    run.metric("read_s", _full_read_s(target), "s")
    run.report["state_read_s"] = run.metrics["read_s"]
    if tr:
        _layer_metrics(run, tr, str(consumer.query.runId), first_batch, before, consumer, f"{root}/ckpt", per_file)
        late = [(pub - d) / 1e6 for _, d, pub, _ in gen_log]
        run.metric("generator.late_ms_p99", stats.percentile(late, 99)[0], "ms")
        files = [(due[n], commit_ns[batch_of[n]], r) for n, _, _, r in gen_log]
        run.metric("sources.backlog_records_max", stats.backlog_max(files), "count")
        tr.close()
    log(f"trickle: {len(samples)} files in {len(window_batches)} batches")
    _check_state(run, root, target, initial)


# -- cdc_backlog_drain ------------------------------------------------------


def drain(run: Run) -> None:
    t_setup = time.perf_counter()
    root = run.path("drain")
    stage, backlog, _ = (run.path("drain", d) for d in ("stage", "backlog", "wal"))

    def make_backlog():
        files = gen.wal_files(run.seed, 0, DRAIN_WARMUP_FILES + DRAIN_FILES, DRAIN_PER_FILE, DRAIN_MIX)
        for i, table in enumerate(files):
            gen.publish(table, stage, backlog, gen.wal_name(i), 0)

    _, backlog_excess_s = repeated(make_backlog)
    target, initial, seed_excess_s = _seed_target(run, root, DRAIN_SEED_ROWS, DRAIN_MIX)

    tr = _Tracer(run, target) if run.trace else None
    kw = {"max_files_per_trigger": DRAIN_FILES_PER_TRIGGER}
    # warm-up: the first file alone, through the consumer and target used below
    names = sorted(os.listdir(backlog))
    for name in names[:DRAIN_WARMUP_FILES]:
        os.replace(f"{backlog}/{name}", f"{root}/wal/{name}")
    consumer = _consumer(run, root, tr.target if tr else target, **kw)
    consumer.start(available_now=True).awaitTermination()
    consumer.close()
    excess_s = backlog_excess_s + seed_excess_s
    run.metric("setup_s", run.session_start_s + time.perf_counter() - t_setup - excess_s, "s")
    for name in names[DRAIN_WARMUP_FILES:]:
        os.replace(f"{backlog}/{name}", f"{root}/wal/{name}")

    consumer = _consumer(run, root, tr.target if tr else target, **kw)
    first_batch = max(stats.commit_times_ns(f"{root}/ckpt")) + 1
    before = _counters(consumer)
    t_start = time.time_ns()
    query = consumer.start(available_now=True)
    query.awaitTermination()
    progress = [p for p in query.recentProgress if p.batchId >= first_batch and p.numInputRows > 0]
    consumer.close()

    batch_of = stats.file_batches(f"{root}/ckpt")
    commit_ns = stats.commit_times_ns(f"{root}/ckpt")
    drained = names[DRAIN_WARMUP_FILES:]
    last_commit = max(commit_ns[batch_of[n]] for n in drained)
    records = DRAIN_PER_FILE * len(drained)
    batch_ms = [p.durationMs["triggerExecution"] for p in progress]
    run.metric("throughput_per_s", records / ((last_commit - t_start) / 1e9), "1/s")
    run.metric("latency_ms", stats.interquartile_mean(batch_ms), "ms")
    run.metric("p50_ms", stats.median(batch_ms), "ms")
    run.metric("p90_ms", stats.percentile(batch_ms, 90)[0], "ms")
    run.report["batch_latency_p90_beyond"] = (stats.percentile(batch_ms, 90)[1], "count")
    run.report["drain_throughput_rps"] = (run.metrics["throughput_per_s"][0], "records/s")
    run.report["batch_latency_samples"] = (len(batch_ms), "count")
    run.attempted += len(progress) + consumer.metrics.num_io_failures
    run.failed += consumer.metrics.num_io_failures
    run.metric("read_s", _full_read_s(target), "s")
    run.report["state_read_s"] = run.metrics["read_s"]
    if tr:
        _layer_metrics(run, tr, str(query.runId), first_batch, before, consumer, f"{root}/ckpt", DRAIN_PER_FILE)
        tr.close()
    log(f"drain: {records} records in {len(batch_ms)} batches")
    _check_state(run, root, target, initial)
