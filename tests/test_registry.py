"""Registry ordering contract: the grading driver correctness-checks only
the first 50 entries of `__spark_entry__.queries()`, and CORRECTNESS_r{N}.json
files accumulate across rounds — so the window ROTATES each round
(VERDICT.md r2, "Next round" #1) and the coverage guarantees are cumulative:

- every operator family must hold a green slot in (current window ∪ some
  committed CORRECTNESS_r*.json);
- every name ever checked by the driver must either be green in a committed
  CORRECTNESS file or sit in the current window to be (re-)checked — a
  rotation can never silently drop certified coverage;
- a window slot is never wasted on an oracle-less spec.
"""

from __future__ import annotations

import json
from pathlib import Path

from wal_consumer_spark.plans import all_specs
from wal_consumer_spark.plans.registry import DRIVER_WINDOW

REPO = Path(__file__).resolve().parent.parent

#: Family marker -> at least one (window ∪ cumulative-green) entry must
#: start with it.
FAMILY_PREFIXES = [
    "q",            # TPC-H flagship (q1/q5 certified r1+r2; bulk tpch_* r1)
    "join_",
    "asof_",
    "topk_",      # covers the sort/limit/top-k SURVEY §2 row (global sort +
                  # limit); the plain sort_ variants stay in the registry
                  # tail and tests/test_parity.py
    "set_",
    "agg_",
    "win_",
    "scalar_",
    "cdc_",
    "dq_",
    "dedup_",
    "sim_",
    "text_",
    "multimodal_",
    "udf_",
    "stream_",
    "pipeline_",
    "sql_front_",
    "ts_",
    "analytics_",
    "graph_",
    "ml_",
]


def _correctness_round(path: Path) -> int:
    import re

    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path.name)
    return int(m.group(1)) if m else -1


def _committed_correctness(repo: Path = REPO) -> dict[str, dict]:
    """name -> best row across all committed CORRECTNESS_r*.json."""
    rows: dict[str, dict] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json"), key=_correctness_round):
        for name, row in json.loads(path.read_text()).items():
            prev = rows.get(name)
            if prev is None or not _is_green(prev):
                rows[name] = row
    return rows


def _green_names(repo: Path = REPO, *, before_round: int | None = None) -> set[str]:
    """Names with a green row in any CORRECTNESS_r*.json under `repo`,
    optionally restricted to rounds strictly before `before_round`."""
    green: set[str] = set()
    for path in repo.glob("CORRECTNESS_r*.json"):
        rnd = _correctness_round(path)
        if before_round is not None and rnd >= before_round:
            continue
        for name, row in json.loads(path.read_text()).items():
            if _is_green(row):
                green.add(name)
    return green


def _newest_round(repo: Path = REPO) -> int:
    rounds = [_correctness_round(p) for p in repo.glob("CORRECTNESS_r*.json")]
    return max(rounds, default=0)


def _is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def test_driver_window_names_registered():
    specs = all_specs()
    missing = [n for n in DRIVER_WINDOW if n not in specs]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW), "duplicate window names"
    assert len(DRIVER_WINDOW) == 50, "window must fill all 50 driver slots"


def test_all_specs_starts_with_driver_window():
    names = list(all_specs())
    assert names[: len(DRIVER_WINDOW)] == DRIVER_WINDOW


def test_window_plus_committed_green_cover_every_family():
    green = {n for n, row in _committed_correctness().items() if _is_green(row)}
    covered = green | set(DRIVER_WINDOW)
    uncovered = [
        p for p in FAMILY_PREFIXES if not any(n.startswith(p) for n in covered)
    ]
    assert not uncovered, f"families with no certified/windowed representative: {uncovered}"


def test_rotated_out_names_have_committed_green_rows():
    """A rotation may only drop a name from the window if a committed
    CORRECTNESS_r*.json already holds a green row for it — cumulative driver
    coverage can never regress. Names whose only committed rows are red must
    stay in the window until they go green."""
    rows = _committed_correctness()
    window = set(DRIVER_WINDOW)
    dropped_red = [
        n for n, row in rows.items() if not _is_green(row) and n not in window
    ]
    assert not dropped_red, (
        f"names with no committed green row rotated out of the window: {dropped_red}"
    )


def test_window_slots_all_certifiable():
    """Every window slot must have a real oracle — a rows-only check can
    never consume one of the 50 driver slots."""
    specs = all_specs()
    no_oracle = [n for n in DRIVER_WINDOW if specs[n].oracle is None]
    assert not no_oracle, f"oracle-less specs in window: {no_oracle}"


def test_oracle_less_specs_sort_last():
    specs = all_specs()
    names = list(specs)
    none_positions = [i for i, n in enumerate(names) if specs[n].oracle is None]
    oracle_positions = [i for i, n in enumerate(names) if specs[n].oracle is not None]
    if none_positions and oracle_positions:
        assert min(none_positions) > max(oracle_positions)


#: Deliberate re-certifications of already-green names (e.g. the round-6
#: analytics_gini_coefficient re-pin; round-9's size-gated joins; round
#: 10's sim_knn_label_purity post-f1c05c8 re-pin). A name here may sit
#: in DRIVER_WINDOW even though an earlier round already certified it.
#: Round 13: the 43 names rewritten by the round-12 optimization pass
#: (the deleted WAIVED_R12_OPTIMIZATION set) are re-pinned per VERDICT
#: r12 "Next round" #1 — their earlier green rows predate the round-12
#: plan rewrites, so the round-13 driver run re-certifies them against
#: the oracle. (The round-12 load_table re-pins are green in
#: CORRECTNESS_r12 and rotated out; they no longer need allowlisting.)
#: The four cdc_* names are re-pinned after their apply moved onto the
#: shared merge_cdc window; the four graph re-pins whose slots they took
#: are green in CORRECTNESS_r13 and leave the allowlist with the window.
_REPIN_ALLOWLIST: frozenset[str] = frozenset(
    {
        "analytics_market_basket",
        "analytics_shapley_attribution",
        "cdc_apply_final_state",
        "cdc_replay_idempotency",
        "cdc_shuffled_replay_equivalence",
        "cdc_state_asof",
        "dedup_clusters_cc",
        "dedup_containment_pairs",
        "dedup_lsh_band_sensitivity",
        "dedup_lsh_eval",
        "dedup_minhash_estimate_error",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_threshold_sensitivity",
        "dq_referential_integrity_audit",
        "graph_adamic_adar",
        "graph_bfs_distance_histogram",
        "graph_connected_components",
        "graph_copurchase_degree",
        "graph_degree_assortativity",
        "graph_edge_support_histogram",
        "graph_ego_density_topk",
        "graph_global_transitivity",
        "graph_hits_hubs_authorities",
        "graph_hub_cap_sensitivity",
        "graph_jaccard_neighbors",
        "graph_kcore_bounded_peel",
        "graph_kcore_peel",
        "graph_landmark_distance_profile",
        "graph_rich_club_coefficient",
        "graph_triangle_participation",
        "pipeline_cluster_representative",
        "pipeline_cross_source_dup_matrix",
        "pipeline_dedup_cluster_sizes",
        "pipeline_dsir_importance_weights",
        "pipeline_snapshot_novelty_rate",
        "pipeline_soft_dedup_ess_by_source",
        "pipeline_soft_dedup_weights",
        "text_bigram_logprob",
        "text_edit_distance_near_pairs",
        "text_shingle_novelty",
        "ts_theil_sen_sampled",
        "ts_theil_sen_slope",
    }
)


def _check_staging_partition(repo: Path) -> None:
    """The phase-robust partition invariant (VERDICT r7 "What's wrong" #1):

    - (NEXT_WINDOW ∪ FUTURE_WINDOW) ∩ green == ∅ — a staged slot is never
      burnt on an already-certified name;
    - DRIVER_WINDOW ∩ green(rounds < newest) == ∅ (minus deliberate
      re-pins) — the CURRENT window may only hold never-before-certified
      names, but the newest round's own CORRECTNESS file certifying the
      window is SUCCESS, not waste. This keeps the suite green both
      before and after the driver drops CORRECTNESS_r{N}.json.
    - exact cover: every registered spec is green or staged somewhere.
    """
    from wal_consumer_spark.plans.registry import FUTURE_WINDOW, NEXT_WINDOW

    specs = all_specs()
    green = _green_names(repo)
    green_prior = _green_names(repo, before_round=_newest_round(repo))
    window = set(DRIVER_WINDOW)
    staged = set(NEXT_WINDOW)
    future = set(FUTURE_WINDOW)

    assert len(set(NEXT_WINDOW)) == len(NEXT_WINDOW), "duplicate NEXT_WINDOW names"
    assert len(set(FUTURE_WINDOW)) == len(FUTURE_WINDOW), "duplicate FUTURE_WINDOW names"
    overlap = (window & staged) | (window & future) | (staged & future)
    assert not overlap, f"names staged twice: {sorted(overlap)}"
    wasted_staged = sorted((staged | future) & green)
    assert not wasted_staged, (
        f"already-certified names burning staged slots: {wasted_staged}"
    )
    wasted_window = sorted((window & green_prior) - _REPIN_ALLOWLIST)
    assert not wasted_window, (
        f"window names already certified by an earlier round: {wasted_window}"
    )
    missing = sorted(set(specs) - green - window - staged - future)
    assert not missing, f"registered specs in no window and not certified: {missing}"
    unknown = sorted((window | staged | future) - set(specs))
    assert not unknown, f"staged names not registered: {unknown}"
    assert len(staged) <= 50, "NEXT_WINDOW overflows a single 50-slot round"
    assert len(future) <= 50, "FUTURE_WINDOW overflows a single 50-slot round"


def test_staging_partitions_registry():
    """cumulative-green ∪ DRIVER_WINDOW ∪ NEXT_WINDOW ∪ FUTURE_WINDOW must
    cover the registry EXACTLY, with no staged name wasting a slot. The
    invariant is phase-robust: it holds both before AND after the driver
    certifies the current window (VERDICT r7 "What's wrong" #1)."""
    _check_staging_partition(REPO)


_GREEN_ROW = {
    "rows_match": True, "schema_match": True, "hash_match": True,
    "spark_rows": 1, "oracle_rows": 1, "err": None,
}


def _copy_pre_drop_state(src: Path, dst: Path) -> None:
    """Reconstruct the PRE-drop disk state in `dst` regardless of the
    phase `src` is in: copy every CORRECTNESS_r*.json but strip rows for
    current DRIVER_WINDOW names. If the driver has already certified the
    window (post-drop phase on disk — the round-8 judge-day failure:
    copying the real window-certifying file then appending a synthetic
    next round made the real rows look stale), stripping removes exactly
    that certification; if it hasn't (pre-drop phase), stripping is a
    no-op. Empty round files are kept so round numbering is preserved."""
    window = set(DRIVER_WINDOW)
    for p in src.glob("CORRECTNESS_r*.json"):
        rows = {
            n: r
            for n, r in json.loads(p.read_text()).items()
            if n not in window
        }
        (dst / p.name).write_text(json.dumps(rows))


def _certify_window(state: Path) -> None:
    """Simulate the driver dropping CORRECTNESS_r{newest+1}.json that
    certifies every DRIVER_WINDOW name."""
    nxt = _newest_round(state) + 1
    synthetic = {n: dict(_GREEN_ROW) for n in DRIVER_WINDOW}
    (state / f"CORRECTNESS_r{nxt:02d}.json").write_text(json.dumps(synthetic))


def test_staging_partition_survives_driver_drop(tmp_path):
    """The invariant must hold in BOTH phases of a round, from ANY on-disk
    starting phase (VERDICT r8 "What's wrong" #1 — the second consecutive
    round this simulation was phase-fragile):

    - pre-drop (window rotated, driver not yet run): window names green
      nowhere — rehearsal phase;
    - post-drop (driver wrote CORRECTNESS_r{newest+1} certifying the
      window): the fresh certification is success, not 50 wasted slots.

    The simulation is made phase-independent by reconstructing the
    pre-drop state first (stripping window rows from the copied files),
    so it passes identically before AND after the real driver runs."""
    pre = tmp_path / "pre"
    pre.mkdir()
    _copy_pre_drop_state(REPO, pre)
    _check_staging_partition(pre)  # phase 1: rotated, not yet certified
    _certify_window(pre)
    _check_staging_partition(pre)  # phase 2: driver just certified


def test_staging_partition_from_post_drop_disk_state(tmp_path):
    """Inverse fixture (VERDICT r8 fix directive): start from an explicit
    POST-drop disk state — strip, then certify, then treat THAT as the
    on-disk state a fresh pytest run would see on judge day. The invariant
    must hold as-is, and the pre-drop reconstruction applied to the
    post-drop state must land back in a valid pre-drop state."""
    post = tmp_path / "post"
    post.mkdir()
    _copy_pre_drop_state(REPO, post)
    _certify_window(post)
    _check_staging_partition(post)  # judge-day pytest with driver file present
    # re-running the phase-independent simulation FROM the post-drop state
    # (what the round-8 test failed to do) must also hold
    re_pre = tmp_path / "re_pre"
    re_pre.mkdir()
    _copy_pre_drop_state(post, re_pre)
    _check_staging_partition(re_pre)
    _certify_window(re_pre)
    _check_staging_partition(re_pre)


def test_staging_partition_still_flags_stale_window(tmp_path):
    """Negative control: a window name certified by an EARLIER round (not
    the newest) must still be flagged as a wasted slot — the phase-robust
    exemption only covers the newest round's own certification."""
    import pytest

    # start from the reconstructed pre-drop state so the control is valid
    # from ANY on-disk phase (same fix as the driver-drop simulation)
    _copy_pre_drop_state(REPO, tmp_path)
    nxt = _newest_round(tmp_path) + 1
    # pick a window name that is NOT a deliberate re-pin — allowlisted
    # names are exempt from the wasted-slot check by design
    control = next(n for n in DRIVER_WINDOW if n not in _REPIN_ALLOWLIST)
    stale = {control: dict(_GREEN_ROW)}
    # The stale green lands in round nxt; a NEWER round exists beyond it,
    # so the window name is green in rounds < newest — must be flagged.
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(json.dumps(stale))
    (tmp_path / f"CORRECTNESS_r{nxt + 1:02d}.json").write_text("{}")
    with pytest.raises(AssertionError, match="already certified by an earlier"):
        _check_staging_partition(tmp_path)


def test_next_window_slots_all_certifiable():
    from wal_consumer_spark.plans.registry import FUTURE_WINDOW, NEXT_WINDOW

    specs = all_specs()
    no_oracle = [
        n for n in (*NEXT_WINDOW, *FUTURE_WINDOW) if specs[n].oracle is None
    ]
    assert not no_oracle, f"oracle-less specs staged: {no_oracle}"


def test_survey_count_matches_registry():
    """SURVEY.md §2.C's headline query count must equal len(all_specs())
    so documentation can't drift from the registry (VERDICT r6 "What's
    wrong" #3 flagged exactly this: SURVEY said 364 while the registry
    held 372)."""
    import re

    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"as of round \d+: \*\*(\d+) named", text)
    assert m, "SURVEY.md §2.C count header not found"
    assert int(m.group(1)) == len(all_specs()), (
        f"SURVEY.md says {m.group(1)} queries; registry has {len(all_specs())}"
    )
    # README carries the same headline number and drifted in round 8
    # (ADVICE r8 low #1) — pin it to the registry too
    readme = (REPO / "README.md").read_text()
    rm = re.search(r"(\d+) named queries", readme)
    assert rm, "README.md query-count claim not found"
    assert int(rm.group(1)) == len(all_specs()), (
        f"README.md says {rm.group(1)} queries; registry has {len(all_specs())}"
    )


def test_register_guards_decorator_function_name_mismatch():
    """Import-time guard for the f1c05c8 bug class (VERDICT r9 "Next
    round" #3): a helper `def` inserted between `@register(...)` and the
    query function makes the decorator capture the helper — the wrong
    frame registers under the right name and only full parity catches it.
    The guard must reject the mismatch at registration time."""
    import pytest

    from wal_consumer_spark.plans.registry import _REGISTRY, register

    def not_the_query_name(spark, sf_dir):  # pragma: no cover - never runs
        raise AssertionError

    with pytest.raises(ValueError, match="captured function"):
        register("test_guard_query_name", oracle="SELECT 1")(not_the_query_name)
    assert "test_guard_query_name" not in _REGISTRY


def test_register_name_guard_allowlist_is_consistent():
    """Every registered spec's function really is named after its query
    (the allowlist documents any deliberate exception)."""
    from wal_consumer_spark.plans.registry import _NAME_GUARD_ALLOWLIST

    specs = all_specs()
    mismatched = {
        n for n, s in specs.items() if s.spark.__name__ != n
    }
    assert mismatched <= _NAME_GUARD_ALLOWLIST, (
        f"registered name != function name without allowlist entry: "
        f"{sorted(mismatched - _NAME_GUARD_ALLOWLIST)}"
    )
