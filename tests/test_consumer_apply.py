"""Fast-tier checks of WalStreamConsumer._apply_batch: a checkpointed
consumer applies ~640-record WAL files (ADD / UPDATE / DELETE / re-ADD)
one per micro-batch to a 5k-row, 64-bucket target, and the test checks the
state against a dict oracle, pins the Spark jobs and tasks each micro-batch
costs, pins the target's flat, bucket-sorted version layout, and checks
replay, callback, retry and warning behaviour, the window merge on a
hand-built batch, counts taken once across a failed write, trigger
durations, dead-version collection, superseded rows, corrupt manifests,
the backlog gauge, type routing across restarts and single-consumer
exclusion."""

from __future__ import annotations

import os
import random
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from wal_consumer_spark.streaming import (
    BucketedParquetKeyValueTarget,
    WalStreamConsumer,
)
from wal_consumer_spark.streaming.consumer import TARGET_SCHEMA
from wal_consumer_spark.streaming.routing import TypeRoutedTarget

N_BUCKETS = 64
SEED_ROWS = 5_000
N_FILES = 4
PER_FILE = 640
WAL_COLUMNS = ["id", "entity_id", "operation", "entity_bytes", "entity_type"]
WAL_SCHEMA = "id LONG, entity_id LONG, operation STRING, entity_bytes BINARY, entity_type STRING"

#: Spark jobs one micro-batch of this scenario runs (AQE submits each
#: shuffle stage as its own job): the stats aggregate (2) and the write (3:
#: the merge window's shuffle, the rebalance on the bucket, the write).
#: The target slice spans a few flat version dirs, below the 32 paths that
#: start Spark's parallel listing job.
JOBS_PER_BATCH = 5
#: the tasks those jobs run under local[8] are 12 a batch; caching a
#: shuffled frame pins every later job at spark.sql.shuffle.partitions
#: tasks and multiplies this
MAX_TASKS_PER_BATCH = 16
#: parquet files in one version dir of this scenario (1 measured): the
#: rebalanced write coalesces the whole slice into one output partition
MAX_FILES_PER_VERSION = 2


def _wal_files(rng: random.Random, keys: list[int]) -> list[list[tuple]]:
    """WAL records (id, entity_id, operation, payload): upserts of live
    keys, deletes, re-ADDs of deleted keys and ADDs of new keys. Payloads
    are unique per record, so the R10 payload comparison is exact."""
    live, dead = set(keys), set()
    next_key, next_id, files = max(keys) + 1, 1, []
    for _ in range(N_FILES):
        recs = []
        for _ in range(PER_FILE):
            r = rng.random()
            if r < 0.1 and live:
                k, op = rng.choice(sorted(live)), "DELETE"
                live.discard(k)
                dead.add(k)
            elif r < 0.2 and dead:
                k, op = rng.choice(sorted(dead)), "ADD"
                dead.discard(k)
                live.add(k)
            elif r < 0.35:
                k, op, next_key = next_key, "ADD", next_key + 1
                live.add(k)
            else:
                k, op = rng.choice(sorted(live)), "UPDATE"
            payload = None if op == "DELETE" else f"{next_id}:{k}".encode()
            recs.append((next_id, k, op, payload))
            next_id += 1
        files.append(recs)
    return files


def _apply(state: dict, records: list[tuple]) -> int:
    """Dict-oracle apply of one micro-batch (last op per key, by id);
    returns how many of its upserts the state already held."""
    last = {}
    for rec in sorted(records):
        last[rec[1]] = rec
    already = 0
    for _, k, op, payload in last.values():
        if op == "DELETE":
            state.pop(k, None)
        else:
            already += state.get(k) == payload
            state[k] = payload
    return already


def _write_wal(path: str, records: list[tuple], mtime: int) -> None:
    ids, keys, ops, payloads = zip(*records)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "entity_id": pa.array(keys, pa.int64()),
                "operation": pa.array(ops, pa.string()),
                "entity_bytes": pa.array(payloads, pa.binary()),
                "entity_type": pa.array(["T"] * len(ids), pa.string()),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))  # the file source reads oldest first


def _state(target) -> dict:
    return {r.entity_id: bytes(r.entity_bytes) for r in target.read().collect()}


def _drain(consumer) -> str:
    query = consumer.start(available_now=True)
    try:
        query.awaitTermination()
    finally:
        consumer.close()
    return str(query.runId)


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    """One checkpointed drain of the WAL files into a seeded target."""
    root = str(tmp_path_factory.mktemp("consumer_apply"))
    rng = random.Random(7)
    keys = rng.sample(range(1, 50_000), SEED_ROWS)
    initial = {k: f"seed:{k}".encode() for k in keys}
    seed_file = f"{root}/seed.parquet"
    pq.write_table(
        pa.table(
            {
                "entity_id": pa.array(keys, pa.int64()),
                "entity_bytes": pa.array([initial[k] for k in keys], pa.binary()),
                "entity_type": pa.array(["T"] * len(keys), pa.string()),
            }
        ),
        seed_file,
    )
    target = BucketedParquetKeyValueTarget(spark, f"{root}/target", n_buckets=N_BUCKETS)
    target.write(spark.read.parquet(seed_file))

    files = _wal_files(rng, keys)
    os.makedirs(f"{root}/wal")
    for i, recs in enumerate(files):
        _write_wal(f"{root}/wal/part-{i:04d}.parquet", recs, 1_700_000_000 + i)
    consumer = WalStreamConsumer(
        spark, f"{root}/wal", f"{root}/ckpt", target, max_files_per_trigger=1
    )
    run_id = _drain(consumer)
    return {
        "root": root, "target": target, "initial": initial, "files": files,
        "consumer": consumer, "run_id": run_id,
    }


def test_state_matches_dict_oracle(applied):
    expected = dict(applied["initial"])
    for recs in applied["files"]:
        _apply(expected, recs)
    assert _state(applied["target"]) == expected
    m = applied["consumer"].metrics
    assert m.num_ignored_already_done == 0
    assert m.num_synchronized == sum(len({r[1] for r in recs}) for recs in applied["files"])


def test_jobs_and_tasks_per_batch_are_pinned(spark, applied):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(applied["run_id"]))
    tasks = sum(store.job(j).numTasks() for j in job_ids)
    assert len(job_ids) == JOBS_PER_BATCH * N_FILES, job_ids
    assert tasks <= MAX_TASKS_PER_BATCH * N_FILES, tasks


def test_versions_are_flat_and_sorted_on_the_bucket(spark, applied):
    """Each version is one flat dir of a few files; every row carries its
    own bucket, and each file is sorted on it. Every batch touched every
    bucket, so gc() left only the last batch's version."""
    target, root = applied["target"], applied["root"]
    assert set(target._manifest().values()) == {1 + N_FILES}  # v1 seeded
    vdir = f"{root}/target/v{1 + N_FILES}"
    assert not [n for n in os.listdir(vdir) if n.startswith("__bucket=")], vdir
    data = sorted(n for n in os.listdir(vdir) if n.endswith(".parquet"))
    assert 1 <= len(data) <= MAX_FILES_PER_VERSION, (vdir, data)
    for name in data:
        buckets = pq.read_table(f"{vdir}/{name}", columns=["__bucket"])["__bucket"]
        assert buckets.to_pylist() == sorted(buckets.to_pylist()), (vdir, name)
    rows = spark.read.parquet(vdir)
    assert rows.filter(F.col("__bucket") != target.bucket_expr()).count() == 0
    assert rows.filter(F.col("__version") != 1 + N_FILES).count() == 0
    wal = spark.read.parquet(f"{root}/wal/part-{N_FILES - 1:04d}.parquet")
    written = {r[0] for r in rows.select("__bucket").distinct().collect()}
    assert written == set(target.touched_buckets(wal))
    assert len(written) == N_BUCKETS  # 640 records touch every bucket


def test_metrics_report_the_last_batch(applied):
    d = applied["consumer"].metrics.as_dict()
    assert d["wal_last_batch_records"] == len({r[1] for r in applied["files"][-1]})
    assert d["wal_last_batch_touched_buckets"] == N_BUCKETS
    assert d["wal_last_batch_apply_seconds"] > 0
    phases = [d[f"wal_last_batch_{p}_seconds"] for p in ("stats", "write")]
    assert all(t > 0 for t in phases), phases
    assert sum(phases) <= d["wal_last_batch_apply_seconds"]
    assert "wal_last_batch_r10_seconds" not in d


def test_metrics_report_the_last_trigger_durations(applied):
    """The listener keeps StreamingQueryProgress.durationMs; its events
    arrive asynchronously, so poll for them."""
    metrics = applied["consumer"].metrics
    deadline = time.monotonic() + 30
    while "addBatch" not in metrics.last_trigger_ms and time.monotonic() < deadline:
        time.sleep(0.1)
    d = metrics.as_dict()
    assert 0 < d["wal_last_trigger_addBatch_ms"] <= d["wal_last_trigger_triggerExecution_ms"], d


def test_dead_versions_are_collected(applied):
    """The consumer runs gc() after each committed apply: the target dir
    holds exactly the version dirs its manifest points to."""
    target = applied["target"]
    live = {f"v{v}" for v in target._manifest().values()}
    assert {n for n in os.listdir(target.path) if n.startswith("v")} == live


def test_replay_with_fresh_checkpoint_counts_already_done(spark, applied):
    """R10: replaying every WAL file over the final state re-applies each
    batch; the upserts whose payload the state already holds at that point
    count as already done, and the state ends where it was."""
    target, root = applied["target"], applied["root"]
    expected = _state(target)
    already = 0
    for recs in applied["files"]:
        already += _apply(expected, recs)
    assert already > 0
    replay = WalStreamConsumer(
        spark, f"{root}/wal", f"{root}/ckpt_replay", target, max_files_per_trigger=1
    )
    _drain(replay)
    total = sum(len({r[1] for r in recs}) for recs in applied["files"])
    assert replay.metrics.num_ignored_already_done == already
    assert replay.metrics.num_synchronized == total - already
    assert _state(target) == expected


def _batch(spark, records):
    return spark.createDataFrame([(i, k, op, p, "T") for i, k, op, p in records], WAL_SCHEMA)


def test_callback_false_sees_wal_columns_only(spark, tmp_path):
    seen = []
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"), n_buckets=N_BUCKETS)
    consumer = WalStreamConsumer(
        spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"), target,
        callback=lambda b: seen.append(b.columns) or False,
    )
    consumer._apply_batch(
        _batch(spark, [(1, 1, "ADD", b"a"), (2, 2, "ADD", b"b"), (3, 1, "UPDATE", b"c")]), 0
    )
    assert seen == [WAL_COLUMNS]
    assert consumer.metrics.num_ignored_already_done == 2
    assert consumer.metrics.num_synchronized == 0
    assert _state(target) == {}


def _seeded(spark, path, cls=BucketedParquetKeyValueTarget):
    """A 4-bucket target holding keys 1..12 with payload `seed:<k>`, and
    its dict."""
    target = cls(spark, path, n_buckets=4)
    state = {k: f"seed:{k}".encode() for k in range(1, 13)}
    target.write(spark.createDataFrame([(k, p, "T") for k, p in state.items()], TARGET_SCHEMA))
    return target, state


#: one micro-batch, rows out of id order: key 100 ADD -> UPDATE -> DELETE,
#: key 1 DELETE -> re-ADD, key 2 UPDATE to the payload it already holds
#: (R10), key 3 UPDATE, key 200 DELETE of a key the target never held
MERGE_BATCH = [
    (7, 1, "ADD", b"again:1"),
    (2, 100, "UPDATE", b"u:100"),
    (5, 2, "UPDATE", b"seed:2"),
    (1, 100, "ADD", b"a:100"),
    (4, 1, "DELETE", None),
    (3, 100, "DELETE", None),
    (6, 200, "DELETE", None),
    (8, 3, "UPDATE", b"u:3"),
]


def test_window_merge_matches_dict_oracle(spark, tmp_path):
    """One batch through _apply_batch: the state, the batch's key count
    and the R10 count equal a dict oracle's, and keys the batch does not
    hold keep their rows in the buckets it rewrites."""
    target, expected = _seeded(spark, str(tmp_path / "tgt"))
    consumer = WalStreamConsumer(spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"), target)
    consumer._apply_batch(_batch(spark, MERGE_BATCH), 0)
    already = _apply(expected, MERGE_BATCH)
    assert already == 1  # key 2
    assert _state(target) == expected
    batch_keys = {r[1] for r in MERGE_BATCH}
    m = consumer.metrics
    assert (m.last_batch_records, m.num_ignored_already_done) == (len(batch_keys), already)
    assert m.num_synchronized == len(batch_keys) - already
    rewritten = {int(b) for b, v in target._manifest().items() if v == 2}
    keys = spark.createDataFrame([(k,) for k in expected], "entity_id LONG")
    untouched_in_rewritten = [
        k for k, b in keys.select("entity_id", target.bucket_expr()).collect()
        if b in rewritten and k not in batch_keys
    ]
    assert untouched_in_rewritten, rewritten


def test_a_failed_write_is_counted_once(spark, tmp_path):
    """The first write_for runs part of the plan, then raises OSError;
    the retry's write commits. Counts come from the committed attempt
    alone, so each attempt needs its own Observation."""

    class FlakyTarget(BucketedParquetKeyValueTarget):
        failures = 1

        def write_for(self, new_state, batch, touched=None):
            if self.failures:
                self.failures -= 1
                new_state.take(1)  # a write that dies after its first rows
                raise OSError("sink unavailable")
            super().write_for(new_state, batch, touched)

    target, expected = _seeded(spark, str(tmp_path / "tgt"), FlakyTarget)
    consumer = WalStreamConsumer(
        spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"), target,
        sleep_on_io_failure=0.0, max_sync_retries=2,
    )
    consumer._apply_batch(_batch(spark, MERGE_BATCH), 0)
    already = _apply(expected, MERGE_BATCH)
    n_keys = len({r[1] for r in MERGE_BATCH})
    m = consumer.metrics
    assert m.num_io_failures == 1
    assert (m.last_batch_records, m.num_ignored_already_done) == (n_keys, already)
    assert m.num_synchronized == n_keys - already
    assert _state(target) == expected


def test_io_errors_retry_and_analysis_errors_fail_fast(spark, tmp_path):
    """R9: an IO error is retried until the apply succeeds; an
    AnalysisException (a schema or plan bug no retry can fix) is raised at
    once even with unbounded retries, and counted as a failure."""
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"), n_buckets=N_BUCKETS)
    left = {"io": 2, "bad": 0}

    def callback(batch):
        if left["io"]:
            left["io"] -= 1
            raise OSError("sink unavailable")
        if left["bad"]:
            left["bad"] -= 1
            batch.select("no_such_column")
        return True

    consumer = WalStreamConsumer(
        spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"), target,
        callback=callback, sleep_on_io_failure=0.0, max_sync_retries=None,
    )
    consumer._apply_batch(_batch(spark, [(1, 1, "ADD", b"a")]), 0)
    assert consumer.metrics.num_io_failures == 2
    assert _state(target) == {1: b"a"}

    left["bad"] = 1  # a retry would find the callback healed and apply
    with pytest.raises(AnalysisException):
        consumer._apply_batch(_batch(spark, [(2, 2, "ADD", b"b")]), 1)
    assert left["bad"] == 0
    assert consumer.metrics.num_io_failures == 3
    assert _state(target) == {1: b"a"}


def test_failed_applied_id_write_warns(spark, tmp_path):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"))
    consumer = WalStreamConsumer(spark, str(tmp_path / "wal"), str(blocker), target)
    with pytest.warns(RuntimeWarning, match=re.escape(f"{blocker}/_wcs_applied_id")):
        consumer._record_applied(7)
    assert consumer._last_applied_id == 7


def test_routed_state_survives_restarted_routers(spark, tmp_path):
    """Each routed batch goes through a fresh TypeRoutedTarget on the same
    base path, as after a process restart: every type's state equals a dict
    oracle, and a fresh router lists every type. `account` reuses
    entity_id 1 of `user`."""
    base = str(tmp_path / "routed")
    batches = [
        [
            (1, 1, "ADD", b"u1", "user"),
            (2, 2, "ADD", b"u2", "user"),
            (3, 1, "ADD", b"a1", "account"),
        ],
        [(4, 3, "ADD", b"u3", "user")],
        [(5, 3, "UPDATE", b"u3b", "user")],
    ]
    oracle: dict[str, dict] = {}
    for records in batches:
        router = TypeRoutedTarget(spark, base)
        router.apply_batch(spark.createDataFrame(records, WAL_SCHEMA))
        for etype in {r[4] for r in records}:
            _apply(oracle.setdefault(etype, {}), [r[:4] for r in records if r[4] == etype])
    assert oracle == {"user": {1: b"u1", 2: b"u2", 3: b"u3b"}, "account": {1: b"a1"}}
    # the router that applied the last batch, then one that applied nothing
    assert {t: _state(router.target_for(t)) for t in oracle} == oracle
    restarted = TypeRoutedTarget(spark, base)
    assert restarted.types() == ["account", "user"]
    assert {t: _state(restarted.target_for(t)) for t in restarted.types()} == oracle


def test_second_consumer_on_an_active_checkpoint_fails_fast(spark, tmp_path):
    """R2-R4 in one process: while a consumer's query is active on a
    checkpoint, a second consumer on that checkpoint fails at start()."""
    wal, ckpt = str(tmp_path / "wal"), str(tmp_path / "ckpt")
    os.makedirs(wal)
    _write_wal(f"{wal}/part-0000.parquet", [(1, 1, "ADD", b"a")], 1_700_000_000)
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"))
    first = WalStreamConsumer(spark, wal, ckpt, target)
    second = WalStreamConsumer(spark, wal, ckpt, target)
    first.start()
    try:
        with pytest.raises(RuntimeError, match="another WalStreamConsumer is active"):
            second.start()
        assert second.query is None
    finally:
        first.close()
        second.close()


def test_superseded_rows_do_not_come_back(spark, tmp_path):
    """Bucket b moves to v3 while v2 still holds b's old rows next to the
    live rows of bucket c: read() and read_for over b and c return only
    each bucket's committed version, against a dict oracle."""
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"), n_buckets=8)
    keys = spark.range(1, 41).withColumnRenamed("id", "entity_id")
    by_bucket: dict[int, list[int]] = {}
    for k, bucket in keys.select("entity_id", target.bucket_expr()).collect():
        by_bucket.setdefault(bucket, []).append(k)
    b, c = sorted(by_bucket)[:2]
    kb1, kb2, kb3 = by_bucket[b][:3]
    kc1, kc2 = by_bucket[c][:2]
    oracle = {k: f"seed:{k}".encode() for k in (kb1, kb2, kc1, kc2)}
    target.write(spark.createDataFrame([(k, p, "T") for k, p in oracle.items()], TARGET_SCHEMA))
    consumer = WalStreamConsumer(
        spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"), target
    )
    batches = [
        [(1, kb1, "UPDATE", b"b1-v2"), (2, kc1, "UPDATE", b"c1-v2")],
        [(3, kb1, "DELETE", None), (4, kb3, "ADD", b"b3-v3"), (5, kb2, "UPDATE", b"b2-v3")],
    ]
    for i, records in enumerate(batches):
        consumer._apply_batch(_batch(spark, records), i)
        _apply(oracle, records)
    manifest = target._manifest()
    assert (manifest[str(b)], manifest[str(c)]) == (3, 2)
    v2 = spark.read.parquet(f"{target.path}/v2")
    assert v2.filter(F.col("__bucket") == b).count() == 2  # kb1, kb2 as of v2

    def rows(df):
        return sorted((r.entity_id, bytes(r.entity_bytes)) for r in df.collect())

    assert rows(target.read()) == sorted(oracle.items())
    slice_ = target.read_for(_batch(spark, [(6, kb2, "UPDATE", b"x"), (7, kc2, "UPDATE", b"y")]))
    assert rows(slice_) == sorted(oracle.items())  # every key lives in b or c


def test_read_for_pushes_the_bucket_filter_to_parquet(applied):
    """The requested buckets reach the parquet scan as a pushed-down IN,
    so row-group statistics on the sorted __bucket can skip the rest."""
    plan = applied["target"].read_for(None, [0, 1])._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert pushed and all("In(__bucket, [0,1])" in ln for ln in pushed), plan


@pytest.mark.parametrize("garbage", ["{not json", "[1, 2]", '{"0": "v1"}', '{"0": null}'])
def test_corrupt_manifest_fails_loudly(spark, tmp_path, garbage):
    """An unreadable manifest raises and names its path; it never reads
    as an empty target whose next commit drops the untouched buckets."""
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"), n_buckets=N_BUCKETS)
    os.makedirs(target.path)
    with open(target._manifest_path(), "w", encoding="utf-8") as f:
        f.write(garbage)
    batch = _batch(spark, [(1, 1, "ADD", b"a")])
    new_state = batch.select("entity_id", "entity_bytes", "entity_type")
    with pytest.raises(ValueError, match=re.escape(target._manifest_path())):
        target.read()
    with pytest.raises(ValueError, match=re.escape(target._manifest_path())):
        target.write_for(new_state, batch, [0])
    with open(target._manifest_path(), encoding="utf-8") as f:
        assert f.read() == garbage


def test_backlog_is_zero_only_while_the_wal_dir_is_missing(spark, tmp_path):
    wal = tmp_path / "wal"
    target = BucketedParquetKeyValueTarget(spark, str(tmp_path / "tgt"))
    consumer = WalStreamConsumer(spark, str(wal), str(tmp_path / "ckpt"), target)
    assert consumer.backlog() == 0
    wal.mkdir()
    (wal / "part-0000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        consumer.backlog(max_age=0)
