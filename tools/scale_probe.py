#!/usr/bin/env python
"""sf1 scaling probe (VERDICT r12 "Next round" #6): run the heaviest
headline queries at a 10x scale factor (tools/make_scale10.py replica set)
at two core counts, in fresh JVMs, and report the core-scaling ratio
time(low_cpus) / time(high_cpus) per query.

At sf0.1 the suite is stage/JVM-overhead-bound (every r12 8↔32 ratio sat
at 0.67-1.22 and the 8-core suite was outright faster), so the bench could
not DEMONSTRATE that the window/join rewrites parallelize. This probe
measures the same plans where the data outgrows the overhead floor.
Ratios >> 1 mean the plan actually uses the extra cores; ratios ~= 1 at
sf1 would mean a serialization bottleneck worth hunting.

Each run is `bench.isolate_one` (tools/bench_one.py in a subprocess)
with SPARK_GRAFT_CPUS set to the core count; a failed run writes its
return code and stderr tail to stderr and its row reads "run failed".

Usage: python tools/scale_probe.py [SF_DIR] [HI] [LO] [N_PER_QUERY] [NAME...]
HI defaults to this host's CPU count and LO to half of HI.
Writes one JSON line per query and a summary JSON to stdout; full record
appended nowhere (caller commits the output, e.g. into SCALE.md / the
round's OPTIMIZATION file).
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from bench import isolate_one  # noqa: E402

DEFAULT_TARGETS = [
    "dedup_lsh_band_sensitivity",
    "graph_jaccard_neighbors",
    "graph_connected_components",
    "dedup_bbit_minhash_error",
    "graph_ego_density_topk",
    "dedup_minhash_estimate_error",
    "pipeline_soft_dedup_ess_by_source",
    "ts_theil_sen_slope",
    "graph_hits_hubs_authorities",
    "graph_wedge_closure_by_degree",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else len(os.sched_getaffinity(0))
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else max(1, hi // 2)
    n = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    names = sys.argv[5:] or DEFAULT_TARGETS
    out: dict[str, dict] = {}
    for name in names:
        rec_hi, rec_lo = (
            isolate_one(name, sf_dir, n, env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)))
            for cpus in (hi, lo)
        )
        if not (rec_hi and rec_lo and rec_hi.get("median")):
            out[name] = {"error": "run failed", "hi": rec_hi, "lo": rec_lo}
            print(json.dumps({name: out[name]}), flush=True)
            continue
        row = {
            f"median_c{hi}": rec_hi["median"],
            f"median_c{lo}": rec_lo["median"],
            f"samples_c{hi}": rec_hi.get("samples"),
            f"samples_c{lo}": rec_lo.get("samples"),
            f"construct_c{hi}": rec_hi.get("construct_sec"),
            f"construct_c{lo}": rec_lo.get("construct_sec"),
            "ratio_lo_over_hi": round(rec_lo["median"] / rec_hi["median"], 2),
        }
        out[name] = row
        print(json.dumps({name: row}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "hi": hi, "lo": lo,
                      "n_per_query": n, "results": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
