"""The benchmark's own arithmetic: percentiles with their sample counts,
the join from WAL file to micro-batch to commit time that yields apply
latency, the backlog curve, and the run-to-run spread of a metric."""

from __future__ import annotations

import json
import math
import os
import re
import statistics


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank q-th percentile of `values` and the number of samples
    strictly beyond its rank (so a p90 over 100 samples has 10 beyond)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def median(values: list[float]) -> float:
    return statistics.median(values)


def interquartile_mean(values: list[float]) -> float:
    """Mean of the samples between the first and third quartile by rank
    (each sample at the boundary counted by the share of it inside).
    Unlike the median it moves smoothly when a few samples change sides:
    apply latencies come in micro-batch-sized steps, and the median jumps
    by a whole batch when the middle file lands in the next batch."""
    if not values:
        raise ValueError("interquartile mean of no samples")
    ordered = sorted(values)
    n = len(ordered)
    lo, hi = n / 4, 3 * n / 4
    total = 0.0
    for i, v in enumerate(ordered):  # sample i covers the rank interval [i, i+1)
        total += v * max(0.0, min(i + 1, hi) - max(i, lo))
    return total / (hi - lo)


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# -- Structured Streaming checkpoint records ----------------------------------


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """WAL file name -> id of the micro-batch that read it, from the file
    source's log under `<checkpoint>/sources/0` (plain batch files and the
    `.compact` files that fold earlier batches in)."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for entry in os.listdir(log_dir):
        if not re.fullmatch(r"\d+(\.compact)?", entry):
            continue
        with open(os.path.join(log_dir, entry), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:  # first line: version tag
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times_ns(checkpoint_dir: str) -> dict[int, int]:
    """Micro-batch id -> wall time its commit record was written: the batch
    is committed, and its target writes visible, from that instant."""
    commit_dir = os.path.join(checkpoint_dir, "commits")
    return {
        int(entry): os.stat(os.path.join(commit_dir, entry)).st_mtime_ns
        for entry in os.listdir(commit_dir)
        if entry.isdigit()
    }


def apply_latencies_ms(
    due_ns: dict[str, int],
    batch_of: dict[str, int],
    commit_ns: dict[int, int],
) -> dict[str, float]:
    """Per WAL file: commit time of the batch that read it minus the time
    the file was due at the generator. Raises if any file never reached a
    committed batch, since an unapplied file has no latency to report."""
    out = {}
    for name, due in due_ns.items():
        if name not in batch_of:
            raise ValueError(f"WAL file {name} was never read by a micro-batch")
        batch = batch_of[name]
        if batch not in commit_ns:
            raise ValueError(f"micro-batch {batch} reading {name} never committed")
        out[name] = (commit_ns[batch] - due) / 1e6
    return out


def backlog_max(files: list[tuple[int, int, int]]) -> int:
    """Largest number of records due but not yet committed, over
    (due_ns, commit_ns, n_records) per file. A commit at the same instant
    as a due time is counted first."""
    events = []
    for due, commit, n in files:
        events.append((due, 1, n))
        events.append((commit, 0, -n))
    level = peak = 0
    for _, _, delta in sorted(events):
        level += delta
        peak = max(peak, level)
    return peak
