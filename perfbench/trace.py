"""Observation from outside the program: a proxy that times the keyed
target's public methods, a StreamingQueryListener that keeps each
trigger's `durationMs`, Spark's status tracker and status store for
jobs, stages and tasks, and `/proc` for resident memory. Spans and
records stay in memory until the run ends."""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span log: (name, start_ns, end_ns, attributes)."""

    def __init__(self) -> None:
        self.items: list[tuple[str, int, int, dict]] = []

    def add(self, name: str, start_ns: int, end_ns: int, **attrs) -> None:
        self.items.append((name, start_ns, end_ns, attrs))

    def as_json(self) -> list[dict]:
        return [{"name": n, "start_ns": a, "end_ns": b, **attrs} for n, a, b, attrs in self.items]


class TracedTarget:
    """Proxy for BucketedParquetKeyValueTarget: forwards every call and
    records a span around touched_buckets, read_for and write_for, plus
    what each write_for left on disk. The consumer sees the same public
    methods it would see on the target itself."""

    def __init__(self, target, spans: Spans):
        self._target = target
        self._spans = spans

    def __getattr__(self, name):
        return getattr(self._target, name)

    def touched_buckets(self, batch):
        t0 = time.time_ns()
        out = self._target.touched_buckets(batch)
        self._spans.add("target.touched_buckets", t0, time.time_ns(), buckets=len(out))
        return out

    def read_for(self, batch, touched=None):
        t0 = time.time_ns()
        out = self._target.read_for(batch, touched)
        self._spans.add("target.read_for", t0, time.time_ns())
        return out

    def write_for(self, new_state, batch, touched=None):
        t0 = time.time_ns()
        self._target.write_for(new_state, batch, touched)
        t1 = time.time_ns()
        files, size = dir_files(f"{self._target.path}/v{max(manifest(self._target.path).values())}")
        self._spans.add("target.write_for", t0, t1, files=files, bytes=size)


def manifest(target_path: str) -> dict[str, int]:
    """The target's committed bucket -> version map, read from disk."""
    with open(os.path.join(target_path, "_MANIFEST.json"), encoding="utf-8") as f:
        return {k: int(v) for k, v in json.load(f).items()}


def dir_files(path: str) -> tuple[int, int]:
    """(parquet data files, total bytes) under `path`."""
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class ProgressLog(StreamingQueryListener):
    """Keeps every StreamingQueryProgress as a plain dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "batchId": p.batchId,
                "runId": str(p.runId),
                "timestamp": p.timestamp,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


# -- Spark status -------------------------------------------------------------


def _asjava(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def group_jobs(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def job_info(sc, job_ids: list[int]) -> list[dict]:
    """Per job: submission time, task count and stage ids, from the
    status store (works with the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in job_ids:
        try:
            j = store.job(jid)
        except Py4JJavaError:  # evicted from the bounded store
            continue
        sub = j.submissionTime()
        out.append(
            {
                "job": jid,
                "submitted_ms": sub.get().getTime() if sub.isDefined() else 0,
                "tasks": j.numTasks(),
                "stages": list(_asjava(sc, j.stageIds())),
            }
        )
    return out


def stage_totals(sc, stage_ids) -> dict[str, tuple[float, str]]:
    """Executor time, GC, shuffle and spill summed over the given stages
    (skipped stages count zero), as name -> (value, unit)."""
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(("tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    for sid in set(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the bounded store
            continue
        tot["tasks"] += s.numCompleteTasks()
        tot["exec_run_s"] += s.executorRunTime() / 1e3
        tot["exec_cpu_s"] += s.executorCpuTime() / 1e9
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    unit = {"tasks": "count", "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s"}
    return {k: (v, unit.get(k, "MB")) for k, v in tot.items()}


# -- memory -------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    stat = f.read()
            except OSError:
                continue
            # the ppid is the second field after the parenthesised comm
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(entry))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    live descendant: the Spark JVM and the Python workers it forked."""
    total, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024
