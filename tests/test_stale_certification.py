"""Mechanized stale-certification audit as a suite invariant (VERDICT r10
"Next round" #2, mechanizing the hand-audits of rounds 9-10).

A committed green driver row certifies a query AS OF the commit that added
its CORRECTNESS_r{N}.json. The `sim_knn_label_purity` episode (r8 row
silently predating the round-9 kNN-substrate refactor, fix f1c05c8) showed
certifications rot when code moves underneath them. tools/stale_audit.py
walks every certified name's dependency closure (the query function plus
every first-party helper/constant it transitively references) and flags
names whose closure changed after their latest green row's commit.

The invariant enforced here: every flagged name is either

- re-pinned in the CURRENT DRIVER_WINDOW (it will be re-certified by this
  round's driver run), or
- waived BY NAME with a REASON-SCOPED waiver: the waiver below covers ONLY
  names whose every flag reason is the round-2 `load_table` change (UTC
  session pin + events-NTZ normalization) — behavior-neutral for the
  date-typed TPC-H tables these 31 queries read, re-exercised by every
  certified window since round 2, and queued for round-12 re-pin. A later
  change to any waived name's OWN function re-flags it with a non-waivable
  reason and fails this test.

No Spark session needed — the audit is git + ast only.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
sys.path.insert(0, str(REPO))

import stale_audit  # noqa: E402

from wal_consumer_spark.plans.registry import DRIVER_WINDOW  # noqa: E402

#: Round 12 (optimization round 1): 27 of the 31 load_table-only names
#: waived in round 11 are re-pinned in the round-12 DRIVER_WINDOW
#: (VERDICT r11 "Next round" #1). The remaining FOUR stay waived
#: permanently-with-reason: each returns ZERO rows at the driver's
#: correctness SF (sf0.01 — verified this round at sf0.001/sf0.01:
#: selective predicates that only produce rows at sf0.1+), so their r01
#: green rows are 0-row matches and a re-pin would re-certify the same
#: vacuous result tests/test_parity.py::
#: test_driver_window_results_non_degenerate exists to refuse. Their
#: window slots promote round-12 staged names instead (registry.py).
#: The waiver stays reason-scoped: any change to these names' own
#: functions still flags non-waivably.
WAIVED_LOAD_TABLE_ONLY: frozenset[str] = frozenset(
    {
        "join_left_anti",
        "set_except",
        "tpch_q20_part_suppliers",
        "tpch_q22_global_sales_opportunity",
    }
)

#: Round 13 closes the round-12 certification debt (VERDICT r12 "Next
#: round" #1): the round-12 waiver (`WAIVED_R12_OPTIMIZATION`, a 43-name
#: set) rested on the premise that the driver re-runs the FULL registry
#: against the oracle each optimization round — which did not happen
#: (CORRECTNESS_r12 covers the usual 50-slot window, and only 3 of the
#: 43 were in it). The 43 names are now re-pinned in the round-13
#: DRIVER_WINDOW and the waiver set is DELETED: every stale flag must
#: again be window-re-pinned or carry the single remaining reason-scoped
#: load_table waiver below.

_LOAD_TABLE_REASON = "wal_consumer_spark.sources.tables.load_table"


def _flagged() -> dict[str, list[str]]:
    # the audit shells out to git; skip gracefully only if the repo has
    # no git metadata at all (e.g. an exported source tarball)
    if not (REPO / ".git").exists():  # pragma: no cover
        import pytest

        pytest.skip("no git metadata — stale audit needs commit history")
    return stale_audit.audit()


def test_every_stale_certification_is_repinned_or_waived():
    flagged = _flagged()
    unhandled = {
        n: reasons
        for n, reasons in flagged.items()
        if n not in DRIVER_WINDOW
        and n not in WAIVED_LOAD_TABLE_ONLY
    }
    assert not unhandled, (
        "certified queries whose dependency closure changed after their "
        "green row's commit, neither re-pinned in DRIVER_WINDOW nor "
        f"waived: {unhandled}"
    )


def test_waivers_are_reason_scoped():
    """A waiver covers ONLY the load_table reason — if a waived name's own
    function (or any other closure member) changes, the waiver must not
    absorb it."""
    flagged = _flagged()
    for name in sorted(WAIVED_LOAD_TABLE_ONLY):
        reasons = flagged.get(name, [])
        beyond = [r for r in reasons if _LOAD_TABLE_REASON not in r]
        assert not beyond, (
            f"waived name {name} has non-load_table stale reasons — the "
            f"waiver does not cover these: {beyond}"
        )


def test_waivers_not_redundant_with_window():
    """Keep the bookkeeping tight: a name re-pinned in the window must not
    also sit in a waiver list, and the two waiver lists must not overlap."""
    dup = WAIVED_LOAD_TABLE_ONLY & set(DRIVER_WINDOW)
    assert not dup, f"names both re-pinned and waived: {sorted(dup)}"


# ------------------------------------------------------------------ unit
# closure/normalization behavior, independent of git history

_SRC_V1 = '''
from wal_consumer_spark.plans._util import helper_x

THRESH = 10

def helper_a(df):
    """doc v1"""
    return helper_b(df) + THRESH

def helper_b(df):
    return df * 2

def query_q(spark, sf_dir):
    # a comment
    return helper_a(spark) + helper_x(sf_dir)
'''

_SRC_V2_COMMENT_ONLY = _SRC_V1.replace("# a comment", "# a different comment").replace(
    '"""doc v1"""', '"""doc v2 — reworded"""'
)

_SRC_V3_HELPER_CHANGED = _SRC_V1.replace("df * 2", "df * 3")

_SRC_V4_CONST_CHANGED = _SRC_V1.replace("THRESH = 10", "THRESH = 99")


def test_snapshot_normalization_ignores_comments_and_docstrings():
    s1 = stale_audit.ModuleSnapshot(_SRC_V1)
    s2 = stale_audit.ModuleSnapshot(_SRC_V2_COMMENT_ONLY)
    assert s1.defs == s2.defs


def test_snapshot_detects_helper_and_constant_changes():
    s1 = stale_audit.ModuleSnapshot(_SRC_V1)
    s3 = stale_audit.ModuleSnapshot(_SRC_V3_HELPER_CHANGED)
    s4 = stale_audit.ModuleSnapshot(_SRC_V4_CONST_CHANGED)
    assert s1.defs["helper_b"] != s3.defs["helper_b"]
    assert s1.defs["query_q"] == s3.defs["query_q"]  # query text untouched
    assert s1.defs["THRESH"] != s4.defs["THRESH"]


def test_snapshot_reference_extraction_reaches_imports_and_locals():
    s1 = stale_audit.ModuleSnapshot(_SRC_V1)
    assert "helper_a" in s1.refs["query_q"]
    assert "helper_x" in s1.refs["query_q"]
    assert "THRESH" in s1.refs["helper_a"]
    assert s1.imported_names["helper_x"] == (
        "wal_consumer_spark.plans._util",
        "helper_x",
    )


_SRC_LOCAL_IMPORT = '''
def query_r(spark, sf_dir):
    from wal_consumer_spark.operators.selection import exact_rank_selection
    import wal_consumer_spark.operators.sketch as sk
    import wal_consumer_spark.operators.dedup
    return (
        exact_rank_selection(spark)
        + sk.cms_depth(sf_dir)
        + wal_consumer_spark.operators.dedup.minhash_signatures(spark)
    )
'''


def test_function_local_imports_enter_the_snapshot():
    """ADVICE r11 (medium): imports INSIDE a def — the dominant plan
    style (`from …operators.selection import exact_rank_selection` in
    agg_hdr_histogram_quantiles) — must populate imported_names /
    module_aliases, including dotted `import pkg.mod` bindings, or the
    closure silently truncates and the audit under-flags."""
    s = stale_audit.ModuleSnapshot(_SRC_LOCAL_IMPORT)
    assert s.imported_names["exact_rank_selection"] == (
        "wal_consumer_spark.operators.selection",
        "exact_rank_selection",
    )
    assert s.module_aliases["sk"] == "wal_consumer_spark.operators.sketch"
    # plain dotted import binds the FULL path, and the reference walker
    # must record the full attribute chain so closure() can resolve it
    assert (
        s.module_aliases["wal_consumer_spark.operators.dedup"]
        == "wal_consumer_spark.operators.dedup"
    )
    assert (
        "wal_consumer_spark.operators.dedup.minhash_signatures"
        in s.refs["query_r"]
    )
    assert "sk.cms_depth" in s.refs["query_r"]


def test_real_closure_reaches_function_local_import():
    """The live regression from ADVICE r11: agg_hdr_histogram_quantiles
    imports exact_rank_selection inside the function body; the closure
    must contain it (it did not before the ast.walk fix)."""
    members = stale_audit.closure(
        "wal_consumer_spark.plans.aggregates", "agg_hdr_histogram_quantiles"
    )
    assert (
        "wal_consumer_spark.operators.selection",
        "exact_rank_selection",
    ) in members


def test_real_closure_includes_transitive_substrate():
    """graph_pagerank's closure at HEAD must reach beyond the function
    itself — the checkpoint constant and load_table are substrate the
    audit is specifically meant to watch."""
    members = stale_audit.closure(
        "wal_consumer_spark.plans.analytics", "graph_pagerank"
    )
    names = {m for _, m in members}
    assert "graph_pagerank" in names
    assert "_PR_CHECKPOINT_AFTER" in names
    assert ("wal_consumer_spark.sources.tables", "load_table") in members


def test_registry_module_excluded_from_closures():
    """The @register decorator must not pull registration plumbing into
    every closure (it returns the function unchanged; its own tests guard
    the mapping) — otherwise any registry.py edit flags all certifications
    at once."""
    members = stale_audit.closure(
        "wal_consumer_spark.plans.analytics", "graph_pagerank"
    )
    assert not any(
        mod == "wal_consumer_spark.plans.registry" for mod, _ in members
    )
