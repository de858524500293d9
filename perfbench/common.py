"""Run context shared by the workloads: the work directory inside the
checkout, the Spark session built the way users build it, and the host
and effective-config record printed with every result."""

from __future__ import annotations

import os
import platform
import shutil
import sys
import time
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark run: owns its work directory and Spark session."""

    root: str
    workload: str
    seed: int
    seconds: int
    trace: bool
    spark: object = None
    session_start_s: float = 0.0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    report: dict = field(default_factory=dict)  # name -> (value, unit), printed only
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    spans: list = field(default_factory=list)  # written out by traced runs

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message)

    def start_spark(self) -> None:
        """get_spark with SPARK_GRAFT_CPUS=nproc, as a user on this host
        would call it; no engine conf is pinned here."""
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        from wal_consumer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        """Stop the session and wait for the Spark JVM to exit (its
        Python workers exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    def host(self) -> dict:
        conf = self.spark.sparkContext.getConf() if self.spark is not None else None
        with open("/proc/meminfo", encoding="utf-8") as f:
            mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
        return {
            "nproc": nproc(),
            "ram_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(),
            "spark": self.spark.version if self.spark is not None else None,
            "master": conf.get("spark.master") if conf else None,
            "spark.driver.memory": conf.get("spark.driver.memory", None) if conf else None,
            "spark.sql.shuffle.partitions": (
                self.spark.conf.get("spark.sql.shuffle.partitions") if self.spark is not None else None
            ),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def isolate_scratch(root: str) -> None:
    """Keep every file the run writes inside `root`: temp files of this
    process and the JVM, and Spark's local shuffle and spill dirs."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JDK_JAVA_OPTIONS"] = opts
    import tempfile

    tempfile.tempdir = tmp


#: input generation runs this many times per run; one median run counts
SETUP_REPS = 3


def repeated(fn):
    """Run input generation SETUP_REPS times: returns the last result and
    the time beyond one median run, which set-up time leaves out."""
    import statistics

    times, out = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, sum(times) - statistics.median(times)


def median_time(fn, reps: int = 3) -> float:
    """Median wall time of `reps` calls of `fn`."""
    import statistics

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (a Spark
    worker whose parent exited first, a helper of a child process), so
    that `stop_children` can find and wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                # the fields after the parenthesised command: state, ppid, ...
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(pid))
        except (OSError, IndexError, ValueError):
            pass
    return out


def stop_children(grace_s: float = 10.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM, then SIGKILL after `grace_s`."""
    import signal

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while kids := _children():
        for pid in kids:
            try:
                os.kill(pid, sig)
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    continue
            except (ProcessLookupError, ChildProcessError):
                continue
        time.sleep(0.05)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
