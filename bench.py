#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: one task slot per CPU) and prints ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Each query is materialized through the noop sink (full execution, no
driver-side collect). The full record (every query's median and samples,
plus a `host` block) goes to BENCH_DETAIL_r<N>.json, N one past the newest
record on disk, so a run never writes over a committed one.

The regression tripwire compares raw per-query medians against the newest
earlier record whose `host` block and `sf` equal this run's. Seconds from
another host are never compared: with no such record the run says it has
no baseline (`tripwire_baseline_round: null`)."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wal_consumer_spark.plans import all_specs  # noqa: E402
from wal_consumer_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_supplier",
    "asof_join_events_orders",
    "win_running_sum",
    "agg_rollup",
    "agg_count_distinct",
    "cdc_apply_final_state",
    "stream_window_tumbling",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_quality",
    "multimodal_decode_meta",
    "pipeline_corpus_curation",
    "stream_incremental_rollup",
    "win_sessionize_gap",
    # r2 additions (appended only — the first 21 stay identical to r1 for
    # round-over-round comparability): one representative per family that
    # joined the driver-certified window this round.
    "scalar_string_funcs",
    "udf_pandas_scalar",
    "agg_hll_partial_merge",
    "dedup_simhash",
    "sim_embedding_near_dup",
    "pipeline_decontaminate",
    "pipeline_sequence_packing",
    "pipeline_domain_mixture",
    "sql_front_agg_join",
    # r2 driver-window swap-ins (appended only, same continuity rule): the
    # six families promoted into the correctness window this round.
    "ts_resample_locf",
    "analytics_cohort_retention",
    "graph_pagerank",
    "ml_feature_scaling",
    "join_fuzzy_name_pairs",
    "sim_doc_cosine_sparse",
    # r3 additions (appended only, same continuity rule): one representative
    # per family added this round.
    "join_bloom_prefilter",
    "analytics_market_basket",
    "sim_ann_recall_eval",
    "ts_changepoint_cusum",
    "text_shingle_novelty",
    "pipeline_mixture_temperature",
    # r3 session-2 additions (appended only, same continuity rule): one
    # representative per family added in the second round-3 session.
    "text_bigram_logprob",
    "graph_jaccard_neighbors",
    "dq_reconcile_totals",
    "udf_map_in_arrow",
    "ml_decision_stump",
    # r4 additions (appended only, same continuity rule): the operators
    # added this round.
    "graph_label_propagation",
    "ts_theil_sen_slope",
    "ml_naive_bayes_binary",
    "agg_exact_percentile_selection",
    "graph_connected_components",
    # r5 additions (appended only, same continuity rule): one
    # representative per family added this round.
    "analytics_power_user_threshold",
    "sim_pair_distance_histogram",
    "pipeline_head_dup_by_source",
    # r6 additions (appended only, same continuity rule): one
    # representative per family added this round.
    "graph_hits_hubs_authorities",
    "sim_int8_quantized_recall",
    "pipeline_dsir_importance_weights",
    "dq_referential_integrity_audit",
    "ts_ljung_box_whiteness",
    # r7 additions (appended only, same continuity rule): one
    # representative per family added this round.
    "sim_knn_label_purity",
    "graph_ktruss_edges",
    "ml_ndcg_macro_summary",
    "text_hapax_ratio_by_source",
    "pipeline_contamination_report",
    # r7 second-wave additions (appended only): the analytics and
    # time-series family representatives this round.
    "analytics_revenue_retention_nrr",
    "ts_downsample_lttb",
    # r8 additions (appended only, same continuity rule): one
    # representative per family added this round.
    "graph_triangle_participation",
    "ml_psi_population_stability",
    "ts_changepoint_argmax_split",
    "sim_embedding_norm_audit",
    # r9 additions (appended only, same continuity rule): one
    # representative per family added this round.
    # (stream_idle_timeout_sessions deliberately NOT here: like
    # stream_stateful_sessionize it times a real availableNow streaming
    # job — a different cost regime; fresh-JVM note recorded instead.)
    "sim_knn_hubness_histogram",
    "dedup_lsh_band_sensitivity",
    "graph_landmark_distance_profile",
    "pipeline_soft_dedup_ess_by_source",
    # r9 late-session additions (appended only; streaming replay
    # queries stay out per the stream_idle_timeout_sessions note —
    # fresh-JVM bench_one records exist for those instead).
    "sim_product_quantization_audit",
    "analytics_shapley_attribution",
    "text_kneser_ney_bigram",
    "ml_decision_tree_depth2",
    "ts_granger_causality_daily",
    # r9 continuation-session additions (appended only, same continuity
    # rule): one representative per family added in this session.
    "ml_kruskal_wallis_h",
    "agg_kmv_distinct_sketch",
    "dedup_minhash_estimate_error",
    "cdc_op_mix_drift_by_day",
    "text_simpson_lexical_diversity",
    "graph_ego_density_topk",
    # r10 additions (appended only, same continuity rule): the four
    # window-fill operators added this round.
    "ml_matthews_corrcoef",
    "ml_hosmer_lemeshow_gof",
    "analytics_cohens_d_effect_size",
    "set_symmetric_diff_tagged",
    # r11 additions (appended only, same continuity rule): three
    # representatives of the round-11 operator wave — the mergeable
    # quantile sketch, the preference-pair fit, and the heaviest new
    # graph pass (triangles on the support-2 co-purchase projection).
    "agg_hdr_histogram_quantiles",
    "ml_bradley_terry_one_step",
    "graph_wedge_closure_by_degree",
    # r12 additions (appended only, same continuity rule): four
    # representatives of the round-12 operator wave — the integer
    # power iteration, the residual-free cointegration fold, the
    # compressed-signature dedup audit, and the survival-curve test.
    "graph_eigenvector_centrality",
    "ts_engle_granger_cointegration",
    "dedup_bbit_minhash_error",
    "analytics_logrank_test",
]

#: FROZEN stdout manifest (VERDICT r12 "Next round" #3). The grading
#: driver keeps only the last ~2000 chars of combined output, so the
#: compact stdout line can never carry all ~97 medians (measured: 3.2k
#: chars at 3 decimals) — and the previous defensive fallback ("top 40
#: by median when the line exceeds 1900 chars") made the emitted name
#: set CHURN with relative speed: round 12's four fastest-improving
#: queries fell out of the top 40 and PERF_r12 reported them as
#: "dropped_from_bench" when they had actually improved. The compact
#: line now always emits exactly this frozen set — the union of the
#: round-11 and round-12 emitted maps (40 each, 36 common), so nothing
#: the driver has ever diffed can disappear again — plus a
#: `queries_measured` count. Full per-query medians for EVERY headline
#: query are in BENCH_DETAIL_r{N}.json every round. Do NOT edit this
#: list: new queries go to HEADLINE (and hence BENCH_DETAIL) only.
COMPACT_MANIFEST = [
    "agg_exact_percentile_selection", "agg_hdr_histogram_quantiles",
    "agg_rollup", "analytics_market_basket",
    "analytics_revenue_retention_nrr", "analytics_shapley_attribution",
    "dedup_bbit_minhash_error", "dedup_lsh_band_sensitivity",
    "dedup_minhash_estimate_error", "dedup_minhash_lsh",
    "dq_referential_integrity_audit", "graph_connected_components",
    "graph_ego_density_topk", "graph_eigenvector_centrality",
    "graph_hits_hubs_authorities", "graph_jaccard_neighbors",
    "graph_ktruss_edges", "graph_label_propagation",
    "graph_landmark_distance_profile", "graph_triangle_participation",
    "graph_wedge_closure_by_degree", "ml_bradley_terry_one_step",
    "ml_decision_tree_depth2", "ml_kruskal_wallis_h",
    "pipeline_contamination_report", "pipeline_dsir_importance_weights",
    "pipeline_soft_dedup_ess_by_source", "q1_pricing_summary",
    "q3_top_revenue", "q5_region_revenue", "sim_ann_recall_eval",
    "sim_embedding_near_dup", "sim_int8_quantized_recall",
    "sim_knn_hubness_histogram", "sim_knn_label_purity",
    "sim_pair_distance_histogram", "sim_product_quantization_audit",
    "text_bigram_logprob", "text_shingle_novelty",
    "tpch_q18_large_volume_customer", "tpch_q21_waiting_supplier",
    "tpch_q9_product_profit", "ts_engle_granger_cointegration",
    "ts_theil_sen_slope",
]

HERE = os.path.dirname(os.path.abspath(__file__))

#: A query whose raw median exceeds the same-host baseline record's by more
#: than this factor gets flagged in the bench JSON (VERDICT r5 "Next round"
#: #6: the r4 join_bloom_prefilter "regression" took a round of measurement
#: archaeology to dismiss as 3-sample noise — the tripwire turns that into
#: an automatic signal).
TRIPWIRE_RATIO = 1.5


def regression_tripwire(
    queries: dict[str, float],
    prev_queries: dict[str, float],
    threshold: float = TRIPWIRE_RATIO,
) -> dict:
    """Flag every query both runs measured whose raw median grew by more
    than `threshold`x over the baseline's. Pure function of the two median
    maps so the deliberate-regression unit test can feed it synthetic
    runs."""
    flagged = {}
    compared = 0
    for name, now in queries.items():
        prev = prev_queries.get(name)
        if not prev:
            continue
        compared += 1
        if now > prev * threshold:
            flagged[name] = {
                "prev_median": prev,
                "now_median": now,
                "ratio": round(now / prev, 2),
            }
    return {"threshold_ratio": threshold, "compared": compared, "flagged": flagged}


def host_block(spark) -> dict:
    """What must match for two runs' seconds to be comparable: the
    session's task slots, the machine's CPUs, RAM and CPU model, and the
    Spark version."""
    with open("/proc/cpuinfo", encoding="utf-8") as f:
        model = next(
            (line.split(":", 1)[1].strip() for line in f if line.startswith("model name")),
            None,
        )
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "cpu_model": model,
        "spark": spark.version,
    }


def detail_rounds(here: str) -> list[tuple[int, str]]:
    """(round, filename) of every BENCH_DETAIL_r<N>.json in `here`, sorted
    by the PARSED round number (lexicographic order would rank r100 before
    r99, ADVICE r7)."""
    out = []
    for f in os.listdir(here):
        stem = f[len("BENCH_DETAIL_r"):-len(".json")]
        if f.startswith("BENCH_DETAIL_r") and f.endswith(".json") and stem.isdigit():
            out.append((int(stem), f))
    return sorted(out)


def same_host_baseline(
    here: str, host: dict, sf: float
) -> tuple[int | None, dict[str, float], dict[str, dict]]:
    """(round, per-query raw medians, isolation block) of the newest
    BENCH_DETAIL record in `here` whose `host` and `sf` equal this run's,
    or (None, {}, {}) when none does. A record without `host` never
    serves. A record that does not parse raises ValueError naming the
    file: skipping it would silently make an older record the baseline."""
    for rnd, f in reversed(detail_rounds(here)):
        path = os.path.join(here, f)
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except json.JSONDecodeError as ex:
            raise ValueError(f"unreadable bench record {path}: {ex}") from ex
        if rec.get("host") == host and rec.get("sf") == sf:
            return rnd, rec["queries"], rec.get("isolation", {})
    return None, {}, {}


#: Cap on automatic fresh-JVM triage runs per bench session. Flags are
#: rare (0-2/round for three rounds running); a fleet-wide slowdown that
#: flags more names than this is a genuine environment event the record
#: should show as raw flags, not spend an hour isolating one by one.
ISOLATION_MAX_RUNS = 6


def isolate_one(name: str, sf_dir: str, n: int = 5, env: dict | None = None) -> dict | None:
    """Measure one query in a FRESH JVM that runs nothing else
    (tools/bench_one.py as a subprocess, under `env` if given) and return
    its JSON record. None on a non-zero exit, a timeout or output with no
    JSON line: isolation is evidence-gathering, never a way to crash the
    bench. A failed run writes its return code and stderr tail to stderr,
    so the record's missing row has a visible cause."""
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, os.path.join(here, "tools", "bench_one.py"), name, str(n), sf_dir]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600, env=env)
    except (subprocess.SubprocessError, OSError) as ex:
        why, err = f"{type(ex).__name__}: {ex}", getattr(ex, "stderr", None)
    else:
        why, err = f"return code {proc.returncode}", proc.stderr
        if proc.returncode == 0:
            for line in reversed(proc.stdout.splitlines()):
                if line.startswith("{"):
                    try:
                        return json.loads(line)
                    except json.JSONDecodeError:
                        break
            why += ", no parseable JSON line on stdout"
    if isinstance(err, bytes):
        err = err.decode(errors="replace")
    tail = "\n".join((err or "").splitlines()[-20:])
    print(f"isolate_one({name}) failed: {why}; stderr tail:\n{tail}", file=sys.stderr)
    return None


def auto_isolate_flags(
    tripwire: dict,
    prev_isolation: dict[str, dict],
    prev_queries: dict[str, float],
    sf_dir: str,
    threshold: float = TRIPWIRE_RATIO,
    runner=isolate_one,
) -> dict[str, dict]:
    """Mechanized triage of tripwire flags (VERDICT r11 "Next round" #3):
    re-measure each flagged name in a fresh JVM that runs nothing else
    (`runner`, tools/bench_one.py n=5), capped at ISOLATION_MAX_RUNS. Both
    historical spurious flags (stream_window_tumbling r10,
    multimodal_decode_meta r11) dissolved under exactly this measurement.

    The isolated raw median is compared with a baseline from the
    same-host record the flag was raised against: that record's own
    isolation median for the name when it has one (isolation-to-isolation
    is the cleanest series), else its in-suite median (fresh-JVM numbers
    sit below in-suite ones, so a noise flag still clears while a real
    regression still trips). A flag whose isolated median stays within
    `threshold`x of its baseline moves from `flagged` to `isolated_clear`
    with the full evidence row; survivors stay flagged with the evidence
    attached.

    Returns the isolation block for the detail record (name -> evidence)
    and mutates `tripwire` in place."""
    isolation: dict[str, dict] = {}
    flagged = tripwire.get("flagged", {})
    cleared: dict[str, dict] = {}
    for name in list(flagged)[:ISOLATION_MAX_RUNS]:
        rec = runner(name, sf_dir)
        if rec is None or not rec.get("median"):
            continue
        prev_iso = (prev_isolation.get(name) or {}).get("isolated_median")
        if prev_iso:
            baseline, source = prev_iso, "prev_isolation"
        else:
            baseline, source = prev_queries.get(name), "prev_median"
        row = {
            "isolated_median": rec["median"],
            "isolated_samples": rec.get("samples"),
            "baseline": baseline,
            "baseline_source": source,
        }
        if baseline and rec["median"] <= baseline * threshold:
            row["verdict"] = "noise (cleared by fresh-JVM isolation)"
            cleared[name] = {**flagged.pop(name), **row}
        else:
            row["verdict"] = "flag stands under isolation"
            flagged[name].update(row)
        isolation[name] = row
    tripwire["isolated_clear"] = cleared
    tripwire["isolation_runs"] = len(isolation)
    return isolation


def compact_stdout_line(
    total: float,
    timings: dict[str, float],
    sf: float,
    n_passes: int,
    tripwire: dict,
) -> str:
    """The ONE stdout line the grading driver parses — factored out so the
    tail-budget invariant is unit-testable (tests/test_bench_tripwire.py).

    The driver keeps only the last ~2000 chars of combined output, so a
    line that outgrows the tail loses the round's headline value
    ("parsed": null, VERDICT r3) — and all ~97 medians need ~3.2k chars,
    so the line carries the FROZEN 44-name manifest (COMPACT_MANIFEST):
    the old "top 40 by median" fallback churned with relative speed and
    round 12's four fastest-improving queries read as dropped. Every
    measured query's median is in BENCH_DETAIL_r{N}.json; flags are
    capped at 5 names + a total count (full list in the detail file).
    `tripwire_baseline_round` is null when no same-host record exists,
    so zero flags then reads as "not compared", not as "clean"."""
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in COMPACT_MANIFEST if n in timings},
        "sf": sf,
        "bench_version": 9,
        "n_per_query": n_passes,
        # how many queries the suite actually measured this run (all of
        # HEADLINE; medians for every one are in the detail file)
        "queries_measured": len(timings),
        "tripwire_baseline_round": tripwire["baseline_round"],
        "tripwire_flagged": sorted(tripwire["flagged"])[:5],
        "tripwire_n_flagged": len(tripwire["flagged"]),
    }
    line = json.dumps(compact, separators=(",", ":"))
    # Realistic lines measure ~1.7k chars; only a pathological suite
    # (every median >= 10 s AND 5 max-length flags) crosses 1900 — then
    # drop the flag NAMES (never query medians; the count and the detail
    # file still carry the signal).
    if len(line) > 1900:
        compact["tripwire_flagged"] = []
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1900, f"compact line {len(line)} chars > 1900"
    return line


def warmup(spark, sf_dir: str) -> None:
    """Untimed steady-state warmup (JMH-style): first-stage costs — parquet
    reader init, whole-stage codegen compilation, shuffle machinery — are
    one-time JVM effects, not per-query costs, so they are paid here instead
    of inside the first measured query."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").agg(F.sum(F.col("l_quantity").cast("decimal(12,2)"))).write.format(
        "noop"
    ).mode("overwrite").save()
    # touch the interpreted higher-order-function path too
    spark.range(1000).select(
        F.array_min(F.transform(F.sequence(F.lit(0), F.lit(9)), lambda i: i * 2))
    ).write.format("noop").mode("overwrite").save()
    # pre-fork the Python/Arrow workers (spark.python.worker.reuse keeps them)
    import pandas as pd

    spark.range(64).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()


def release_persisted(spark) -> None:
    """Drop every persisted RDD (localCheckpoint storage included) and
    cached plan between timed runs. The checkpointing queries (near-dup,
    simhash, pagerank, CC) each pin block-manager storage that Spark's
    async ContextCleaner frees only after a JVM GC notices the dropped
    reference; across 36 queries x 3 passes the backlog grows faster than
    GC reclaims it and later passes absorb the memory pressure (observed:
    sim_embedding_near_dup samples 2.4s -> 3.4s -> 4.8s monotonically).
    Deterministic release keeps pass N's storage footprint identical to
    pass 1's."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        # blocking: the next query must start from the same (empty)
        # block-manager state every pass — async release left the
        # biggest checkpointing query's old blocks still draining when
        # its next pass began (samples 3.4s -> 6.1s within one run)
        jmap.get(rid).unpersist(True)
    spark.catalog.clearCache()


def time_query(spark, spec, sf_dir: str) -> tuple[float, float]:
    """(total_s, construct_s) of one run of `spec` to the noop sink. The
    span is construction + execution: some queries materialize an index
    frame eagerly at construction (localCheckpoint in the near-dup /
    simhash paths), and timing only the final write would let that
    dominant cost escape the measurement."""
    t0 = time.perf_counter()
    df = spec.spark(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, t1 - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="wcs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # The round is one past the newest record on disk, so this run never
    # writes over a committed record and can never serve as its own
    # baseline (VERDICT r6 "What's wrong" #1). The baseline is read before
    # anything is timed: an unreadable record stops the run at once.
    host = host_block(spark)
    rounds = detail_rounds(HERE)
    rnd = rounds[-1][0] + 1 if rounds else 0
    prev_round, prev_queries, prev_isolation = same_host_baseline(HERE, host, sf)

    specs = all_specs()
    warmup(spark, sf_dir)

    # Three full passes over the suite, report the per-query MEDIAN
    # (VERDICT r2 "Next round" #2: one JVM running 36 queries sequentially
    # at n<=2 could not distinguish a regression from session noise — every
    # sf0.1 parquet is a single row group, so scans are single-threaded and
    # jittery). Median-of-3 is robust to a one-off GC/compilation stall in
    # either direction; passes iterate the whole suite round-robin so one
    # noisy wall-clock era doesn't bias a single query's three samples.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}

    # One untimed full-suite pass first: the generic warmup above covers
    # scan/codegen/Arrow machinery, but each query still pays its own
    # first-run Catalyst analysis + whole-stage-codegen compilation once
    # per JVM (measured: pass-1 samples up to 9x the steady state, incl.
    # a 17.9s one-off on dedup_minhash_lsh vs 1.5s warm). Those are
    # per-JVM costs, not per-query costs; at 100 TB a query's compile
    # milliseconds amortize over minutes of execution, so steady-state is
    # the honest round-over-round comparator.
    for name in HEADLINE:
        time_query(spark, specs[name], sf_dir)
        release_persisted(spark)

    for _ in range(n_passes):
        # level the JVM heap between passes (outside any timed span):
        # py4j object churn + released block references accumulate across
        # a 36-query pass, and leaving their collection to lazy old-gen GC
        # lets heap pressure leak into the next pass's timings
        spark.sparkContext._jvm.System.gc()
        for name in HEADLINE:
            samples[name].append(time_query(spark, specs[name], sf_dir)[0])
            release_persisted(spark)  # outside the timed span: bookkeeping,
            # not query cost — a real pipeline unpersists when an index
            # frame's consumers finish, it doesn't hold every index ever
            # built for the session's lifetime.

    timings = {name: round(statistics.median(xs), 3) for name, xs in samples.items()}
    total = round(sum(timings.values()), 3)
    raw = {name: [round(x, 3) for x in xs] for name, xs in samples.items()}

    # Automatic regression signal (VERDICT r5 "Next round" #6): raw
    # medians against the same-host baseline, then fresh-JVM triage of
    # whatever flagged (VERDICT r11 "Next round" #3) against the same
    # record's isolation rows and medians.
    tripwire = regression_tripwire(timings, prev_queries)
    tripwire["baseline_round"] = prev_round
    tripwire["current_round"] = rnd
    if prev_round is None:
        print("tripwire: no same-host baseline record; nothing compared", file=sys.stderr)
    isolation = auto_isolate_flags(tripwire, prev_isolation, prev_queries, sf_dir)

    # Full methodology record goes to a SIDE FILE, not stdout: the grading
    # driver keeps only the last 2000 chars of stdout, and the round-3
    # record (medians + 43x3 raw samples + method text on one line) outgrew
    # that tail — BENCH_r03.json landed with "parsed": null and the round's
    # headline value was lost (VERDICT r3, "What's wrong" #1). The final
    # stdout line below carries ONLY the driver contract (metric/value/
    # unit/queries/sf) and stays well under the tail size.
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Methodology provenance (ADVICE r2): r1 = min-of-2 timing
        # execution only; r2 = min-of-2 timing construction+execution
        # (shifted construction-heavy entries: dedup_simhash,
        # sim_embedding_near_dup); r3+ = median-of-3, same
        # construction+execution span as r2; v6-v8 also scaled medians
        # by a CPU probe, and v8 froze the compact stdout line's query map
        # to COMPACT_MANIFEST; v9 drops the probe and its scaled block and
        # adds `host` (the timed span, warmup and pass structure are
        # unchanged since v7).
        "bench_version": 9,
        "method": f"median-of-{n_passes} steady-state passes after "
                  "one untimed full-suite warmup pass; "
                  "construction+execution; single shared JVM; "
                  "persisted RDDs/cache released between queries",
        "n_per_query": n_passes,
        # The machine and session these seconds belong to; a later run
        # baselines against this record only if its block is equal.
        "host": host,
        # Raw per-pass samples (suite-order round-robin): lets a reader
        # separate plan cost from session noise.
        "samples": raw,
        # >1.5x raw-median growth vs the same-host baseline record
        # (baseline_round null = nothing compared, not "clean").
        "tripwire": tripwire,
        # Fresh-JVM evidence rows for every name the triage isolated this
        # session (empty when nothing flagged). A later same-host run's
        # triage baselines against these before in-suite medians.
        "isolation": isolation,
    }

    detail_path = os.path.join(HERE, f"BENCH_DETAIL_r{rnd:02d}.json")
    with open(detail_path, "x") as fh:
        json.dump(detail, fh, indent=1)
    print(f"detail -> {detail_path}", file=sys.stderr)

    print(compact_stdout_line(total, timings, sf, n_passes, tripwire))
    spark.stop()


if __name__ == "__main__":
    main()
