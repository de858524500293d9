"""bench.py regression tripwire (VERDICT r5 "Next round" #6): a query
whose raw median grows >1.5x over the newest earlier record from the same
host must be flagged in the bench JSON — the round-4 join_bloom_prefilter
scare took a full round of measurement archaeology; the tripwire makes it
an automatic, same-session signal.

No Spark: regression_tripwire and auto_isolate_flags are fed synthetic
runs, baseline selection reads synthetic records in tmp_path, and main()
runs against a fake session whose queries take fixed times.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from unittest import mock

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from bench import (  # noqa: E402
    HEADLINE,
    ISOLATION_MAX_RUNS,
    TRIPWIRE_RATIO,
    auto_isolate_flags,
    regression_tripwire,
    same_host_baseline,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_deliberate_regression_is_flagged():
    prev = {n: 1.0 for n in HEADLINE}
    now = dict(prev)
    now["join_bloom_prefilter"] = 1.51  # just over the 1.5x fence
    out = regression_tripwire(now, prev)
    assert list(out["flagged"]) == ["join_bloom_prefilter"]
    row = out["flagged"]["join_bloom_prefilter"]
    assert row["ratio"] == 1.51
    assert out["threshold_ratio"] == TRIPWIRE_RATIO
    assert out["compared"] == len(HEADLINE)


def test_at_threshold_and_improvements_not_flagged():
    prev = {n: 2.0 for n in HEADLINE}
    now = {n: 2.0 * TRIPWIRE_RATIO for n in HEADLINE}  # exactly at fence
    now[HEADLINE[0]] = 0.5  # a big improvement
    assert regression_tripwire(now, prev)["flagged"] == {}


def test_unknown_and_missing_queries_ignored():
    # the gate compares every name both runs hold: a name new this run,
    # or one the baseline never measured, never flags
    prev = {"tpch_q21_waiting_supplier": 1.0, "dropped_query": 1.0}
    now = {
        "tpch_q21_waiting_supplier": 1.2,
        "brand_new_query": 99.0,
    }
    out = regression_tripwire(now, prev)
    assert out["flagged"] == {} and out["compared"] == 1


def test_zero_prev_never_divides():
    prev = {"dedup_exact_hash": 0.0}
    now = {"dedup_exact_hash": 5.0}
    assert regression_tripwire(now, prev)["flagged"] == {}


def test_r6_false_positives_dissolve_against_true_r5_baseline():
    """Regression lock for the exact r6 incident: the 7 committed
    tripwire_flagged names in BENCH_r06.json must NOT flag when r6's raw
    medians are compared against the TRUE previous round (r5), over every
    query both records hold — the flags were a baseline-selection
    artifact."""
    with open(os.path.join(REPO, "BENCH_DETAIL_r05.json")) as fh:
        r5 = json.load(fh)["queries"]
    with open(os.path.join(REPO, "BENCH_DETAIL_r06.json")) as fh:
        r6 = json.load(fh)["queries"]
    out = regression_tripwire(r6, r5)
    assert out["compared"] == 55
    assert out["flagged"] == {}, f"true-baseline tripwire should be clean: {out['flagged']}"


# --------------------------------------------- same-host baseline selection

HOST = {"cores": 4, "nproc": 4, "ram_gib": 15.0, "cpu_model": "X", "spark": "4.1.2"}


def _record(tmp_path, rnd, median, host=HOST, sf=0.1, isolation=None):
    rec = {"queries": {"dedup_exact_hash": median}, "sf": sf}
    if host is not None:
        rec["host"] = host
    if isolation is not None:
        rec["isolation"] = isolation
    (tmp_path / f"BENCH_DETAIL_r{rnd:02d}.json").write_text(json.dumps(rec))


def test_baseline_is_the_newest_same_host_record(tmp_path):
    """Records from 2 cores, another sf, or with no `host` block never
    serve; the newest record whose host and sf match does, and its
    isolation block comes with it. r100 sorts after r99. With no match
    there is no baseline."""
    _record(tmp_path, 5, 1.0, isolation={"dedup_exact_hash": {"isolated_median": 0.9}})
    _record(tmp_path, 99, 2.0)
    _record(tmp_path, 100, 3.0)
    _record(tmp_path, 101, 50.0, host={**HOST, "cores": 2})
    _record(tmp_path, 102, 60.0, sf=1.0)
    _record(tmp_path, 103, 70.0, host=None)
    rnd, queries, isolation = same_host_baseline(str(tmp_path), HOST, 0.1)
    assert rnd == 100 and queries == {"dedup_exact_hash": 3.0} and isolation == {}
    (tmp_path / "BENCH_DETAIL_r99.json").unlink()
    (tmp_path / "BENCH_DETAIL_r100.json").unlink()
    rnd, queries, isolation = same_host_baseline(str(tmp_path), HOST, 0.1)
    assert rnd == 5 and isolation == {"dedup_exact_hash": {"isolated_median": 0.9}}
    (tmp_path / "BENCH_DETAIL_r05.json").unlink()
    assert same_host_baseline(str(tmp_path), HOST, 0.1) == (None, {}, {})


def test_unreadable_record_fails_loudly(tmp_path):
    """A truncated record must stop the run, not let an older record
    quietly become the baseline."""
    _record(tmp_path, 5, 1.0)
    good = json.dumps({"queries": {"dedup_exact_hash": 2.0}, "sf": 0.1, "host": HOST})
    (tmp_path / "BENCH_DETAIL_r06.json").write_text(good[: len(good) // 2])
    with pytest.raises(ValueError, match="BENCH_DETAIL_r06.json"):
        same_host_baseline(str(tmp_path), HOST, 0.1)


# ------------------------------------------------- fresh-JVM auto-isolation
# (VERDICT r11 "Next round" #3: mechanize the manual flag triage)

def _fake_runner(median):
    def run(name, sf_dir, n=5):
        return {"query": name, "median": median, "samples": [median] * 5}
    return run


def _one_flag(name="multimodal_decode_meta", prev=0.33, now=0.60):
    return {
        "threshold_ratio": TRIPWIRE_RATIO,
        "flagged": {
            name: {"prev_median": prev, "now_median": now, "ratio": round(now / prev, 2)}
        },
    }


def test_noise_flag_clears_under_isolation():
    """The r11 incident, replayed: in-suite median flags at 1.82x, the
    fresh-JVM re-measure comes back at the old level -> flag moves to
    isolated_clear with the evidence row, and the isolation block is
    recorded for a later run's baseline."""
    tw = _one_flag()
    iso = auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf", runner=_fake_runner(0.33)
    )
    assert tw["flagged"] == {}
    row = tw["isolated_clear"]["multimodal_decode_meta"]
    assert row["verdict"].startswith("noise")
    assert row["baseline_source"] == "prev_median"
    assert iso["multimodal_decode_meta"]["isolated_median"] == 0.33


def test_real_regression_survives_isolation():
    tw = _one_flag(prev=0.33, now=0.70)
    auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf", runner=_fake_runner(0.70)
    )
    assert "multimodal_decode_meta" in tw["flagged"]
    assert tw["isolated_clear"] == {}
    assert (
        tw["flagged"]["multimodal_decode_meta"]["verdict"]
        == "flag stands under isolation"
    )


def test_three_fold_regression_stays_flagged_under_isolation():
    """A 3.0x in-suite regression whose fresh-JVM median is also 3.0x its
    same-host baseline must stay flagged: the isolated median is compared
    raw, with no host factor that could scale it back under the fence."""
    tw = _one_flag(prev=0.33, now=0.99)
    auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf", runner=_fake_runner(0.99)
    )
    assert tw["isolated_clear"] == {}
    row = tw["flagged"]["multimodal_decode_meta"]
    assert row["verdict"] == "flag stands under isolation"
    assert row["isolated_median"] == 0.99 and row["baseline"] == 0.33


def test_isolation_baseline_prefers_prior_isolation_row():
    """Once a name has a committed isolation median, the series is
    isolation-to-isolation — the (higher) in-suite median must not serve
    as the baseline."""
    tw = _one_flag(prev=0.50, now=0.90)
    prev_iso = {"multimodal_decode_meta": {"isolated_median": 0.32}}
    auto_isolate_flags(
        tw, prev_iso, {"multimodal_decode_meta": 0.50}, "sf",
        runner=_fake_runner(0.33),
    )
    row = tw["isolated_clear"]["multimodal_decode_meta"]
    assert row["baseline_source"] == "prev_isolation"
    assert row["baseline"] == 0.32


def test_isolation_failure_leaves_flag_standing():
    """A crashed bench_one run must never clear a flag."""
    tw = _one_flag()
    iso = auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf",
        runner=lambda name, sf_dir, n=5: None,
    )
    assert "multimodal_decode_meta" in tw["flagged"]
    assert iso == {} and tw["isolation_runs"] == 0


_STDERR = "\n".join(f"jvm line {i}" for i in range(30))


def _exit_1(*a, **kw):
    return subprocess.CompletedProcess(a[0], 1, stdout="", stderr=_STDERR)


def _timeout(*a, **kw):
    raise subprocess.TimeoutExpired(a[0], kw["timeout"], stderr=_STDERR.encode())


def _garbled(*a, **kw):
    return subprocess.CompletedProcess(a[0], 0, stdout="{not json\n", stderr=_STDERR)


@pytest.mark.parametrize("run, why", [
    (_exit_1, "return code 1"),
    (_timeout, "TimeoutExpired"),
    (_garbled, "no parseable JSON line"),
])
def test_failed_isolation_run_says_why(monkeypatch, capsys, run, why):
    """A failed bench_one subprocess returns None (the bench never
    crashes) and writes its cause and the last 20 stderr lines."""
    monkeypatch.setattr(subprocess, "run", run)
    assert bench.isolate_one("q1_pricing_summary", "sf") is None
    err = capsys.readouterr().err
    assert why in err
    assert "jvm line 29" in err and "jvm line 10" in err
    assert "jvm line 9\n" not in err


def test_isolation_run_cap():
    """A fleet-wide slowdown flagging dozens of names is an environment
    event — isolate at most ISOLATION_MAX_RUNS, leave the rest as raw
    flags."""
    names = HEADLINE[: ISOLATION_MAX_RUNS + 3]
    tw = {
        "threshold_ratio": TRIPWIRE_RATIO,
        "flagged": {
            n: {"prev_median": 1.0, "now_median": 2.0, "ratio": 2.0} for n in names
        },
    }
    iso = auto_isolate_flags(
        tw, {}, {n: 1.0 for n in names}, "sf", runner=_fake_runner(1.0)
    )
    assert len(iso) == ISOLATION_MAX_RUNS
    assert len(tw["isolated_clear"]) == ISOLATION_MAX_RUNS
    assert len(tw["flagged"]) == 3


# ------------------------------------------------------ main(), end to end

def _run_main(monkeypatch, capsys, here, slow=None):
    """One bench.main() in `here` with a fake session: every query takes
    0.5 s, except `slow`, which takes 1.5 s."""
    spark = mock.MagicMock(version="4.1.2")
    spark.sparkContext.defaultParallelism = 4
    monkeypatch.setattr(bench, "HERE", str(here))
    monkeypatch.setattr(bench, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(bench, "all_specs", lambda: {n: n for n in HEADLINE})
    monkeypatch.setattr(bench, "warmup", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "release_persisted", lambda spark: None)
    monkeypatch.setattr(
        bench, "time_query",
        lambda spark, spec, sf_dir: (1.5 if spec == slow else 0.5, 0.0),
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    bench.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_run_never_writes_over_an_existing_record(tmp_path, monkeypatch, capsys):
    """The round is one past the newest BENCH_DETAIL record on disk (by
    parsed number), whatever BENCH_r* files exist; older records keep
    their bytes."""
    (tmp_path / "BENCH_r13.json").write_text("{}")
    _record(tmp_path, 14, 1.0, host=None)
    _record(tmp_path, 9, 1.0, host=None)
    before = (tmp_path / "BENCH_DETAIL_r14.json").read_bytes()
    line = _run_main(monkeypatch, capsys, tmp_path)
    assert (tmp_path / "BENCH_DETAIL_r14.json").read_bytes() == before
    rec = json.loads((tmp_path / "BENCH_DETAIL_r15.json").read_text())
    assert rec["tripwire"]["current_round"] == 15
    assert set(rec["host"]) == {"cores", "nproc", "ram_gib", "cpu_model", "spark"}
    # no record from this host: the run says so instead of passing clean
    assert rec["tripwire"]["baseline_round"] is None
    assert line["tripwire_baseline_round"] is None and line["tripwire_n_flagged"] == 0
    assert line["bench_version"] == 9 and line["queries_measured"] == len(HEADLINE)


def test_slowed_query_is_flagged_against_the_same_host_run(tmp_path, monkeypatch, capsys):
    """A second run on the same host baselines against the first, and a
    query made 3x slower in both the suite and its fresh JVM is flagged."""
    _run_main(monkeypatch, capsys, tmp_path)
    slow = "agg_rollup"
    bench_one = json.dumps({"query": slow, "median": 1.5, "samples": [1.5] * 5})
    monkeypatch.setattr(
        subprocess, "run",
        lambda cmd, **kw: subprocess.CompletedProcess(cmd, 0, stdout=bench_one + "\n", stderr=""),
    )
    line = _run_main(monkeypatch, capsys, tmp_path, slow=slow)
    assert line["tripwire_baseline_round"] == 0
    assert line["tripwire_flagged"] == [slow]
    rec = json.loads((tmp_path / "BENCH_DETAIL_r01.json").read_text())
    assert rec["tripwire"]["compared"] == len(HEADLINE)
    assert rec["isolation"][slow]["verdict"] == "flag stands under isolation"


# ------------------------------------------------------ compact stdout line

def test_compact_stdout_line_fits_driver_tail_budget():
    """VERDICT r12 #3: the one stdout line the driver parses must carry the
    FULL frozen manifest and stay under the ~2000-char tail budget even in
    pathological sessions (every median >= 10 s, max-length flag names) —
    the round-3 failure mode was a line that outgrew the tail and lost the
    round's headline value."""
    timings = {n: 99.999 for n in HEADLINE}
    flags = {n: {"ratio": 99.99} for n in sorted(
        bench.COMPACT_MANIFEST, key=len, reverse=True)[:40]}
    line = bench.compact_stdout_line(
        total=9999.999,
        timings=timings,
        sf=0.1,
        n_passes=3,
        tripwire={"flagged": flags, "baseline_round": 9999},
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    # complete, frozen manifest — nothing the driver has ever diffed can
    # disappear again, and every median is a real measured value
    assert set(parsed["queries"]) == set(bench.COMPACT_MANIFEST)
    assert parsed["queries_measured"] == len(HEADLINE)
    assert parsed["tripwire_n_flagged"] == 40
    assert parsed["tripwire_baseline_round"] == 9999
    # the happy path (no flags) keeps the names field
    line2 = bench.compact_stdout_line(
        total=129.1, timings={n: 9.999 for n in HEADLINE}, sf=0.1,
        n_passes=3, tripwire={"flagged": {}, "baseline_round": None},
    )
    parsed2 = json.loads(line2)
    assert len(line2) <= 1900 and parsed2["tripwire_flagged"] == []
    assert parsed2["tripwire_baseline_round"] is None


def test_compact_manifest_is_frozen_superset_of_r12_emission():
    """The manifest must stay exactly the union of the r11/r12 emitted maps
    (the names the driver has diffed) — append-forbidden, remove-forbidden:
    churn here is what produced the round-12 'improved query reported as
    dropped' artifact."""
    want: set[str] = set()
    for f in ("BENCH_r11.json", "BENCH_r12.json"):
        with open(os.path.join(REPO, f)) as fh:
            want |= set(json.load(fh)["parsed"]["queries"])
    assert set(bench.COMPACT_MANIFEST) == want
    assert set(bench.COMPACT_MANIFEST) <= set(HEADLINE)
