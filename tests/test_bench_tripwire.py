"""bench.py regression tripwire (VERDICT r5 "Next round" #6): a
comparable-41 query whose calibration-normalized median grows >1.5x over
the previous committed round must be flagged in the bench JSON — the
round-4 join_bloom_prefilter scare took a full round of measurement
archaeology; the tripwire makes it an automatic, same-session signal.

Pure-function tests (no Spark): regression_tripwire is fed synthetic
previous/current normalized blocks, including a deliberate regression.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    ANCHOR_CPU_SEC,
    COMPARABLE_41,
    ISOLATION_MAX_RUNS,
    TRIPWIRE_RATIO,
    auto_isolate_flags,
    latest_committed_normalized,
    regression_tripwire,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_deliberate_regression_is_flagged():
    prev = {n: 1.0 for n in COMPARABLE_41}
    now = dict(prev)
    now["join_bloom_prefilter"] = 1.51  # just over the 1.5x fence
    out = regression_tripwire(now, prev)
    assert list(out["flagged"]) == ["join_bloom_prefilter"]
    row = out["flagged"]["join_bloom_prefilter"]
    assert row["ratio"] == 1.51
    assert out["threshold_ratio"] == TRIPWIRE_RATIO


def test_at_threshold_and_improvements_not_flagged():
    prev = {n: 2.0 for n in COMPARABLE_41}
    now = {n: 2.0 * TRIPWIRE_RATIO for n in COMPARABLE_41}  # exactly at fence
    now[COMPARABLE_41[0]] = 0.5  # a big improvement
    assert regression_tripwire(now, prev)["flagged"] == {}


def test_unknown_and_missing_queries_ignored():
    # new queries (absent from prev) and queries outside the frozen basis
    # never flag — the basis is COMPARABLE_41 only
    prev = {"tpch_q21_waiting_supplier": 1.0}
    now = {
        "tpch_q21_waiting_supplier": 1.2,
        "brand_new_query": 99.0,
        "dedup_exact_hash": 50.0,  # comparable name, but no prev row
    }
    assert regression_tripwire(now, prev)["flagged"] == {}


def test_zero_prev_never_divides():
    prev = {"dedup_exact_hash": 0.0}
    now = {"dedup_exact_hash": 5.0}
    assert regression_tripwire(now, prev)["flagged"] == {}


def test_baseline_never_from_current_round():
    """A round-7 bench run must baseline against a round < 7 detail file —
    NEVER a same-round snapshot (VERDICT r6 "What's wrong" #1: a mid-round
    r6 file on disk served as r6's own 'previous round' and shipped 7
    false-positive flags). Exercised against the real committed files: with
    before_round=7 the baseline is r6; with before_round=6 it must skip the
    committed r6 file and fall back to r5."""
    f7, block7, raw7 = latest_committed_normalized(REPO, before_round=7)
    assert f7 == "BENCH_DETAIL_r06.json"
    f6, block6, raw6 = latest_committed_normalized(REPO, before_round=6)
    assert f6 == "BENCH_DETAIL_r05.json"
    for block in (block7, block6, raw7, raw6):
        covered = [n for n in COMPARABLE_41 if n in block]
        assert len(covered) == len(COMPARABLE_41)
    # self-comparison sanity: a record never flags against itself
    with open(os.path.join(REPO, f7)) as fh:
        same = json.load(fh)["normalized"]["queries"]
    assert regression_tripwire(same, block7)["flagged"] == {}


def test_baseline_skips_same_and_future_rounds(tmp_path):
    """Synthetic directory: files for rounds 5, 6, 7 on disk; benching
    round 7 must pick 6, never 7 (same-round) and never anything >= 7."""
    for rnd, val in [(5, 1.0), (6, 2.0), (7, 99.0)]:
        rec = {
            "queries": {"dedup_exact_hash": val},
            "normalized": {"queries": {"dedup_exact_hash": val}},
        }
        (tmp_path / f"BENCH_DETAIL_r{rnd:02d}.json").write_text(json.dumps(rec))
    f, norm, raw = latest_committed_normalized(str(tmp_path), before_round=7)
    assert f == "BENCH_DETAIL_r06.json"
    assert norm["dedup_exact_hash"] == 2.0 and raw["dedup_exact_hash"] == 2.0
    # no eligible baseline at all -> empty blocks, no crash
    f0, norm0, raw0 = latest_committed_normalized(str(tmp_path), before_round=5)
    assert f0 is None and norm0 == {} and raw0 == {}


def test_r6_false_positives_dissolve_against_true_r5_baseline():
    """Regression lock for the exact r6 incident: the 7 committed
    tripwire_flagged names in BENCH_r06.json must NOT flag when r6's
    normalized medians are compared against the TRUE previous round
    (r5) — proving the flags were a baseline-selection artifact."""
    with open(os.path.join(REPO, "BENCH_DETAIL_r06.json")) as fh:
        r6 = json.load(fh)["normalized"]["queries"]
    _, r5, _ = latest_committed_normalized(REPO, before_round=6)
    flagged = regression_tripwire(r6, r5)["flagged"]
    assert flagged == {}, f"true-baseline tripwire should be clean: {flagged}"


# ------------------------------------------------- fresh-JVM auto-isolation
# (VERDICT r11 "Next round" #3: mechanize the manual flag triage)

def _fake_runner(median, cpu=ANCHOR_CPU_SEC):
    def run(name, sf_dir, n=5):
        return {
            "query": name,
            "median": median,
            "samples": [median] * 5,
            "calibration": {"cpu_sec": cpu},
        }
    return run


def _one_flag(name="multimodal_decode_meta", prev=0.33, now=0.60):
    return {
        "threshold_ratio": TRIPWIRE_RATIO,
        "flagged": {
            name: {
                "prev_normalized": prev,
                "now_normalized": now,
                "ratio": round(now / prev, 2),
            }
        },
    }


def test_noise_flag_clears_under_isolation():
    """The r11 incident, replayed: in-suite median flags at 1.82x, the
    fresh-JVM re-measure comes back at the old level -> flag moves to
    isolated_clear with the evidence row, and the isolation block is
    recorded for next round's baseline."""
    tw = _one_flag()
    iso = auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf", runner=_fake_runner(0.33)
    )
    assert tw["flagged"] == {}
    row = tw["isolated_clear"]["multimodal_decode_meta"]
    assert row["verdict"].startswith("noise")
    assert row["baseline_source"] == "prev_normalized"
    assert iso["multimodal_decode_meta"]["isolated_normalized"] == 0.33


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


def test_isolation_baseline_prefers_prior_isolation_row():
    """Once a name has a committed isolation median, the series is
    isolation-to-isolation — the (higher) in-suite normalized median must
    not serve as the baseline."""
    tw = _one_flag(prev=0.50, now=0.90)
    prev_iso = {"multimodal_decode_meta": {"isolated_normalized": 0.32}}
    auto_isolate_flags(
        tw, prev_iso, {"multimodal_decode_meta": 0.50}, "sf",
        runner=_fake_runner(0.33),
    )
    row = tw["isolated_clear"]["multimodal_decode_meta"]
    assert row["baseline_source"] == "prev_isolation"
    assert row["baseline"] == 0.32


def test_isolation_normalizes_by_the_fresh_jvms_own_probe():
    """A fresh JVM on a 2x-slower host measures 2x the median AND a 2x
    cpu probe — the normalized value must come out unchanged and clear."""
    tw = _one_flag()
    auto_isolate_flags(
        tw, {}, {"multimodal_decode_meta": 0.33}, "sf",
        runner=_fake_runner(0.66, cpu=ANCHOR_CPU_SEC * 2),
    )
    assert tw["isolated_clear"]["multimodal_decode_meta"][
        "isolated_normalized"
    ] == 0.33


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
    import bench

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
    names = COMPARABLE_41[: ISOLATION_MAX_RUNS + 3]
    tw = {
        "threshold_ratio": TRIPWIRE_RATIO,
        "flagged": {
            n: {"prev_normalized": 1.0, "now_normalized": 2.0, "ratio": 2.0}
            for n in names
        },
    }
    iso = auto_isolate_flags(
        tw, {}, {n: 1.0 for n in names}, "sf", runner=_fake_runner(1.0)
    )
    assert len(iso) == ISOLATION_MAX_RUNS
    assert len(tw["isolated_clear"]) == ISOLATION_MAX_RUNS
    assert len(tw["flagged"]) == 3


def test_compact_stdout_line_fits_driver_tail_budget():
    """VERDICT r12 #3: the one stdout line the driver parses must carry the
    FULL frozen manifest and stay under the ~2000-char tail budget even in
    pathological sessions (every median >= 10 s, max-length flag names) —
    the round-3 failure mode was a line that outgrew the tail and lost the
    round's headline value."""
    import json

    import bench

    timings = {n: 99.999 for n in bench.HEADLINE}
    flags = {n: {"ratio": 99.99} for n in sorted(
        bench.COMPACT_MANIFEST, key=len, reverse=True)[:40]}
    line = bench.compact_stdout_line(
        total=9999.999,
        timings=timings,
        sf=0.1,
        n_passes=3,
        calibration={"cpu_sec": 0.999},
        normalized_block={"value": 9999.999, "comparable_41_sum": 999.999},
        tripwire={"flagged": flags},
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    # complete, frozen manifest — nothing the driver has ever diffed can
    # disappear again, and every median is a real measured value
    assert set(parsed["queries"]) == set(bench.COMPACT_MANIFEST)
    assert parsed["queries_measured"] == len(bench.HEADLINE)
    assert parsed["tripwire_n_flagged"] == 40
    # the happy path (no flags) keeps the names field
    line2 = bench.compact_stdout_line(
        total=129.1, timings={n: 9.999 for n in bench.HEADLINE}, sf=0.1,
        n_passes=3, calibration={"cpu_sec": 0.214},
        normalized_block={"value": 125.5, "comparable_41_sum": 37.7},
        tripwire={"flagged": {}},
    )
    assert len(line2) <= 1900 and json.loads(line2)["tripwire_flagged"] == []


def test_compact_manifest_is_frozen_superset_of_r12_emission():
    """The manifest must stay exactly the union of the r11/r12 emitted maps
    (the names the driver has diffed) — append-forbidden, remove-forbidden:
    churn here is what produced the round-12 'improved query reported as
    dropped' artifact."""
    import json
    import os

    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    want: set[str] = set()
    for f in ("BENCH_r11.json", "BENCH_r12.json"):
        with open(os.path.join(here, f)) as fh:
            want |= set(json.load(fh)["parsed"]["queries"])
    assert set(bench.COMPACT_MANIFEST) == want
    assert set(bench.COMPACT_MANIFEST) <= set(bench.HEADLINE)
