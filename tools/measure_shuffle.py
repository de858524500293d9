#!/usr/bin/env python
"""Per-query shuffle-volume measurement from Spark's status store — the
SCALE.md §29 harness, committed as a tool (round 11 ran this ad-hoc;
round 12 uses it to test the §29 scaling laws at a second scale factor,
VERDICT r11 "Next round" #2).

Each named query runs to a noop sink (bench.time_query) under its own
job group. The tool then sums the metrics (input bytes/records, shuffle
read/write bytes, shuffle write records) of every stage that group's
jobs ran, read off the status store with the UI disabled, the same way
perfbench/trace.py reads its per-query stage totals. A skipped stage
reads 0. Caveat shared with r11: a localCheckpoint forced by the first
query that touches a shared substrate is attributed to THAT query — run
the same query list in the same order when comparing scale factors so
the attribution bias cancels.

The falsifiable §29 check: for a plan whose claimed law is linear,
`shuffle_write_records / input_records` is CONSTANT across scale
factors. Run at two sf dirs and compare the printed ratios.

Usage: python tools/measure_shuffle.py SF_DIR [query ...]
Defaults to the five §29 plans. Prints one JSON line per query plus a
summary line.
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

#: The five most expensive plans per BENCH_DETAIL_r11 — the §29 set.
SECTION29_PLANS = [
    "graph_connected_components",
    "dedup_lsh_band_sensitivity",
    "dedup_minhash_estimate_error",
    "ts_theil_sen_slope",
    "pipeline_soft_dedup_ess_by_source",
]


def measure(sf_dir: str, names: list[str]) -> dict[str, dict]:
    from bench import release_persisted, time_query
    from perfbench.trace import group_jobs, job_info
    from wal_consumer_spark.plans import all_specs
    from wal_consumer_spark.session import get_spark

    spark = get_spark(app_name="wcs-shuffle-measure")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    specs = all_specs()

    out: dict[str, dict] = {}
    for name in names:
        sc.setJobGroup(name, name)
        wall, _ = time_query(spark, specs[name], sf_dir)
        # the status store is fed by the listener bus: drain it so the
        # group's last job and stages are recorded before they are read
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stage_ids = {s for j in job_info(sc, group_jobs(sc, name)) for s in j["stages"]}
        stages = [store.lastStageAttempt(sid) for sid in sorted(stage_ids)]
        rec = {
            "sf_dir": sf_dir,
            "wall_sec": round(wall, 2),
            "n_stages": sum(str(s.status()) == "COMPLETE" for s in stages),
            "input_mb": round(sum(s.inputBytes() for s in stages) / 1e6, 2),
            "input_records": sum(s.inputRecords() for s in stages),
            "shuffle_write_mb": round(sum(s.shuffleWriteBytes() for s in stages) / 1e6, 2),
            "shuffle_read_mb": round(sum(s.shuffleReadBytes() for s in stages) / 1e6, 2),
            "shuffle_write_records": sum(s.shuffleWriteRecords() for s in stages),
        }
        rec["rows_ratio"] = (
            round(rec["shuffle_write_records"] / rec["input_records"], 4)
            if rec["input_records"]
            else None
        )
        out[name] = rec
        print(json.dumps({"query": name, **rec}))
        release_persisted(spark)
    spark.stop()
    return out


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = sys.argv[2:] or SECTION29_PLANS
    res = measure(sf_dir, names)
    print(json.dumps({"summary": {n: r["rows_ratio"] for n, r in res.items()}}))
