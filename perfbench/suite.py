"""The query_suite workload: registered queries over seeded star-schema
tables, one client, sequential, each query built and executed through
the noop sink. Each result is compared with the query's DuckDB oracle."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import gen, oracle, stats, trace
from perfbench.common import Run, log, median_time, repeated

#: scale factor of the generated tables (lineitem = 6M * SF rows)
SF = 0.01

QUERIES = [
    "q1_pricing_summary",  # scan, filter, decimal aggregate
    "tpch_q18_large_volume_customer",  # joins, semi join on a HAVING aggregate, top-k
    "agg_count_distinct",  # count distinct
    "cdc_apply_final_state",  # batch CDC apply
    "graph_label_propagation",  # iterative: a localCheckpoint per round
    "udf_pandas_scalar",  # Python worker: scalar pandas UDF
]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "documents", "events"]


def _run_query(run: Run, spec, sf_dir: str) -> tuple[float, float]:
    t0 = time.perf_counter()
    df = spec.spark(run.spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def _full_read_s(run: Run, sf_dir: str) -> float:
    """A full read of the fact table, aggregated over every column: the
    read path the queries start from."""
    from wal_consumer_spark.sources.tables import load_table

    return median_time(
        lambda: load_table(run.spark, sf_dir, "lineitem").agg(F.count(F.lit(1)), F.sum(F.hash("*"))).collect()
    )


def suite(run: Run) -> None:
    from wal_consumer_spark.plans import all_specs

    specs = all_specs()
    t_setup = time.perf_counter()
    sf_dir = run.path("sf")
    _, excess_s = repeated(lambda: gen.write_star(gen.star_tables(run.seed, SF), sf_dir))

    # warm-up pass: every query once, collecting its rows for the oracle
    results = {}
    for name in QUERIES:
        try:
            results[name] = specs[name].spark(run.spark, sf_dir).toPandas()
        except Exception as e:  # a query that raises is a failed operation
            run.attempted += 1
            run.fail(f"{name} raised {type(e).__name__}: {e}")
    run.metric("setup_s", run.session_start_s + time.perf_counter() - t_setup - excess_s, "s")

    # measured: the queries round-robin until --seconds have passed, and at
    # least one full pass; stopping at a query boundary, not a pass boundary
    sc = run.spark.sparkContext
    order = [n for n in QUERIES if n in results]
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in order}
    t_start = time.perf_counter()
    i = 0
    while order and (i < len(order) or time.perf_counter() - t_start < run.seconds):
        name = order[i % len(order)]
        i += 1
        if run.trace:
            sc.setJobGroup(name, name)
        run.attempted += 1
        try:
            per_query[name].append(_run_query(run, specs[name], sf_dir))
        except Exception as ex:
            run.fail(f"{name} raised {type(ex).__name__}: {ex}")
    elapsed = time.perf_counter() - t_start
    if run.trace:
        sc.setJobGroup("perfbench", "perfbench")

    lat_ms = [(c + e) * 1e3 for runs in per_query.values() for c, e in runs]
    p90, beyond = stats.percentile(lat_ms, 90)
    # per query first, so the metric does not depend on which queries the
    # last, partial pass reached
    per_query_ms = [stats.median([(c + e) * 1e3 for c, e in runs]) for runs in per_query.values() if runs]
    run.metric("latency_ms", sum(per_query_ms) / len(per_query_ms), "ms")
    run.metric("p50_ms", stats.median(lat_ms), "ms")
    run.metric("p90_ms", p90, "ms")
    # one client in a closed loop: queries per second of a full pass, not
    # runs / elapsed, which moves with the mix of queries the partial
    # last pass reached
    run.metric("throughput_per_s", len(per_query_ms) / (sum(per_query_ms) / 1e3), "1/s")
    run.report["query_runs"] = (len(lat_ms), "count")
    run.report["query_p90_beyond"] = (beyond, "count")
    run.report["suite_s"] = (sum(per_query_ms) / 1e3, "s")
    run.metric("read_s", _full_read_s(run, sf_dir), "s")

    if run.trace:
        stage_ids = []
        for name, runs in per_query.items():
            if not runs:  # raised on every try; counted as failed above
                continue
            jobs = trace.job_info(sc, trace.group_jobs(sc, name))
            stage_ids += [s for j in jobs for s in j["stages"]]
            run.metric(f"plans.{name}.construct_s", stats.median([c for c, _ in runs]), "s")
            run.metric(f"plans.{name}.execute_s", stats.median([e for _, e in runs]), "s")
            run.metric(f"plans.{name}.jobs", len(jobs) / len(runs), "count")
        for k, (v, unit) in trace.stage_totals(sc, stage_ids).items():
            run.metric(f"spark.{k}", v, unit)

    # oracle checks, after every timed span
    want = oracle.duckdb_results(
        sf_dir, TABLES, {n: specs[n].oracle for n in results if specs[n].oracle}
    )
    for name, got in results.items():
        run.attempted += 1
        problem = oracle.rows_mismatch(got, want[name]) if name in want else None
        if problem:
            run.fail(f"{name} differs from its oracle: {problem}")
    log(f"query_suite: {len(lat_ms)} query runs in {elapsed:.1f} s")
