#!/usr/bin/env python3
"""Benchmark of the WAL consumer and the query engine.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from --seed under
`.perfbench/` in the checkout, runs one workload, checks the outputs
against engine-free oracles, and prints one `metric` line per number
followed by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs with the
tracing in perfbench/trace.py and reports the per-layer metrics (and the
end-to-end ones as measured under tracing, prefixed `traced.`). Exits 1
when an output differs from its oracle, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_trickle", "cdc_backlog_drain", "query_suite")

#: (name, unit) reported with --trace 0, on every workload
END_TO_END = [
    ("setup_s", "s"),
    ("latency_ms", "ms"),
    ("throughput_per_s", "1/s"),
]
#: measured on every workload and printed, but too erratic from run to run
#: on a shared 4-core host for a bound: the median and p90 of apply latency
#: jump by a whole micro-batch when their file lands in the next batch (the
#: bounded `latency_ms` is the interquartile mean), the suite's p90 is its
#: slowest query, and a sub-second read rests on Spark's per-job overhead.
#: Traced as `traced.<name>`.
UNBOUNDED = [
    ("p50_ms", "ms"),
    ("p90_ms", "ms"),
    ("read_s", "s"),
]


def layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) reported with --trace 1. A metric of a layer the
    workload does not run reads 0."""
    from perfbench.suite import QUERIES

    names = [
        ("session.start_s", "s"),
        ("session.peak_rss_mb", "MB"),
        ("sources.latest_offset_ms", "ms"),
        ("sources.get_batch_ms", "ms"),
        ("sources.input_rows_per_batch", "count"),
        ("sources.backlog_records_max", "count"),
        ("consumer.batches", "count"),
        ("consumer.trigger_ms_p50", "ms"),
        ("consumer.add_batch_ms_p50", "ms"),
        ("consumer.add_batch_ms_p90", "ms"),
        ("consumer.query_planning_ms", "ms"),
        ("consumer.wal_commit_ms", "ms"),
        ("consumer.commit_offsets_ms", "ms"),
        ("consumer.jobs_per_batch", "count"),
        ("consumer.tasks_per_batch", "count"),
        ("consumer.apply_other_ms", "ms"),
        ("consumer.io_failures", "count"),
        ("target.touched_buckets_ms", "ms"),
        ("target.read_for_ms", "ms"),
        ("target.write_for_ms", "ms"),
        ("target.buckets_touched_share", "ratio"),
        ("target.files_written_per_batch", "count"),
        ("target.mb_written_per_batch", "MB"),
        ("target.files_per_full_read", "count"),
        ("target.disk_mb", "MB"),
        ("cdc.reduce_ratio", "ratio"),
        ("cdc.already_done", "count"),
        ("generator.late_ms_p99", "ms"),
        ("spark.tasks", "count"),
        ("spark.exec_run_s", "s"),
        ("spark.exec_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.spill_mb", "MB"),
    ]
    for q in QUERIES:
        names += [(f"plans.{q}.construct_s", "s"), (f"plans.{q}.execute_s", "s"), (f"plans.{q}.jobs", "count")]
    names += [(f"traced.{n}", u) for n, u in END_TO_END + UNBOUNDED]
    return names


def result_line(run, correct: bool) -> dict:
    """The final stdout object: end-to-end metrics untraced, per-layer
    metrics (zero where a layer does not run) traced."""
    wanted = layer_metrics() if run.trace else END_TO_END
    got = dict(run.metrics)
    if run.trace:
        got.update({f"traced.{n}": got[n] for n, _ in END_TO_END + UNBOUNDED if n in got})
        got["session.start_s"] = (run.session_start_s, "s")
        got["session.peak_rss_mb"] = run.report["peak_rss_mb"]
    metrics = {n: {"value": got[n][0] if n in got else 0.0, "unit": u} for n, u in wanted}
    return {"correct": correct, "attempted": max(1, run.attempted), "failed": run.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wal_consumer_spark")):
        print(f"error: no wal_consumer_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench.common import Run, adopt_orphans, isolate_scratch, log, stop_children

    adopt_orphans()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate_scratch(work)
    run = Run(work, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        from perfbench import cdc, suite

        body = {"cdc_trickle": cdc.trickle, "cdc_backlog_drain": cdc.drain, "query_suite": suite.suite}
        run.start_spark()
        host = run.host()
        body[args.workload](run)
        # resident memory is too erratic run to run (JVM heap growth) for
        # an end-to-end bound; it is printed, and traced as a layer metric
        from perfbench.trace import peak_rss_mb

        run.report["peak_rss_mb"] = (peak_rss_mb(), "MB")
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        try:
            run.stop_spark()
        finally:
            stop_children()
            run.cleanup()

    correct = not run.errors
    for msg in run.errors:
        log(f"FAILED: {msg}")
    out = result_line(run, correct)
    if run.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"host": host, "result": out, "spans": run.spans}, f)
    print(f"host {json.dumps(host)}")
    shown = {**run.metrics, **run.report}
    for name, (value, unit) in sorted(shown.items()):
        print(f"metric {args.workload} {name} {value:.6g} {unit}")
    print(f"metric {args.workload} failed_op_ratio {run.failed / max(1, run.attempted):.6g} ratio")
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
