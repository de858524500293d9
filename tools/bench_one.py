#!/usr/bin/env python
"""Fresh-JVM single-query benchmark — isolates one registered query's plan
cost from full-suite session effects (heap pressure, block-manager residue,
cache churn across 48 queries x 3 passes in one JVM).

Built for the round-3 -> round-4 `dedup_minhash_lsh` drift investigation
(VERDICT r3, "What's wrong" #2: 0.84 s -> 1.14 s -> 1.79 s across rounds
with zero commits to the operator; in-suite r3 samples climbed
monotonically 1.58/1.79/1.94 — a heap-pressure signature, not a plan
change). A number measured here, in a JVM that has run NOTHING else, is
the query's true plan cost; the delta vs the in-suite median is the
suite's session overhead.

The measurement steps are bench.py's own: `warmup`, one untimed run,
then n runs of `time_query`, each followed by `release_persisted`.
`bench.isolate_one` runs this script as a subprocess; `tools/scale_probe.py`
does too, through `isolate_one`. The medians are raw seconds of the host
the script runs on, comparable only with runs on the same host.

Usage: python tools/bench_one.py QUERY [n] [sf_dir]
Prints one JSON line: {"query", "sf_dir", "n", "samples", "median",
"construct_sec"}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from bench import release_persisted, time_query, warmup
    from wal_consumer_spark.plans import all_specs
    from wal_consumer_spark.session import get_spark

    spec = all_specs()[name]
    spark = get_spark(app_name=f"wcs-bench-one-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    # one untimed warmup run (per-query Catalyst analysis + codegen compile)
    time_query(spark, spec, sf_dir)
    release_persisted(spark)

    samples, construct = [], []
    for _ in range(n):
        spark.sparkContext._jvm.System.gc()
        total, built = time_query(spark, spec, sf_dir)
        samples.append(total)
        construct.append(built)
        release_persisted(spark)

    print(json.dumps({
        "query": name,
        "sf_dir": sf_dir,
        "n": n,
        "samples": [round(x, 3) for x in samples],
        "median": round(statistics.median(samples), 3),
        "construct_sec": round(statistics.median(construct), 3),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
