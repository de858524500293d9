"""Registry binding each named query to (Spark callable, DuckDB oracle SQL).

Determinism contract (so the driver's order-insensitive value-hash matches):

- Aggregate numeric columns are summed in DECIMAL (exact, associative — immune
  to partition/summation order), then cast to DOUBLE for the final output, so
  both engines emit bit-identical doubles.
- Every computed column is aliased identically in the Spark plan and the SQL.
- Nondeterministic "pick any row" ops (dropDuplicates subset, approx algos)
  either get a deterministic formulation (window rank / min-pick) or declare
  no oracle (driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

#: Names pinned, in order, to the head of the `all_specs()` iteration. The
#: grading driver correctness-checks only the FIRST 50 registry entries,
#: and CORRECTNESS_r{N}.json files ACCUMULATE across rounds — so the
#: window is ROTATED each round to extend cumulative driver coverage
#: (VERDICT.md round 2, "Next round" #1). Rounds 1–2 certified 89 distinct
#: queries; rounds 3–5 another 50 each; round 6 another 49 (+1 re-pin) —
#: cumulative 288/372 distinct entering round 7. Every rotated-out name
#: keeps its green row in a committed CORRECTNESS_r*.json — enforced by
#: tests/test_registry.py::test_rotated_out_names_have_committed_green_rows
#: — and stays oracle-checked in tests/test_parity.py. Any spec without an
#: oracle sorts last so it can never burn a window slot on a rows-only
#: check.
#:
#: Round 13 rotates ALL 50 slots an eleventh time, per round-12 VERDICT
#: "Next round" #1 (the gate item): CORRECTNESS_r12 certified the
#: round-12 window 50/50 green, but the round-12 optimization rewrites
#: left 43 previously-certified names with STALE certifications — their
#: dependency closures changed after their latest green rows, and the
#: round-12 waiver (`WAIVED_R12_OPTIMIZATION`, now deleted) rested on a
#: full-registry driver recheck that never ran. This window re-pins all
#: 43 so the round-13 driver run converts the round-12 plan rewrites
#: from builder-claimed-correct to driver-certified, plus 7 of the 12
#: round-12 staged names (including graph_harmonic_centrality, which
#: carries the semantics-sensitive parity-BFS rewrite). 43 + 7 = 50.
#:
#: The CDC apply then moved onto one window merge (operators.cdc.merge_cdc)
#: shared with the streaming consumer, which changed the closures of four
#: certified cdc_* queries. They take the slots of four re-pins that
#: CORRECTNESS_r13 already certified green (graph_community_modularity,
#: graph_ktruss_edges, graph_label_propagation, graph_louvain_first_sweep).
DRIVER_WINDOW: list[str] = [
    # --- stale-certification re-pins: the four cdc_* queries whose apply
    # --- moved onto merge_cdc ---
    "cdc_apply_final_state",
    "cdc_replay_idempotency",
    "cdc_shuffled_replay_equivalence",
    "cdc_state_asof",
    # --- stale-certification re-pins: 39 of the 43 names whose dependency
    # --- closures changed under the round-12 optimization rewrites
    # --- (CC star-round windows, HITS/eigen/label-prop window rounds,
    # --- shared tokenization, basket spread, parity BFS, shapley/DSIR/
    # --- referential-audit restructures — OPTIMIZATION_r12.md). Every
    # --- one was parity-verified locally at sf0.01; this rotation gets
    # --- them driver-oracle re-certified (VERDICT r12 "Next round" #1).
    "analytics_market_basket",
    "analytics_shapley_attribution",
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
    # --- round-12 staged additions (7 of the 12 in NEXT_WINDOW;
    # --- graph_harmonic_centrality is pulled forward because its
    # --- round-12 parity-BFS rewrite is semantics-sensitive and should
    # --- not wait another round for driver certification) ---
    "ts_tracking_signal_bias",
    "ts_squared_return_acf",
    "ml_cochran_armitage_trend",
    "ml_chow_break_test",
    "ml_lins_ccc",
    "analytics_quantile_treatment_effect",
    "graph_harmonic_centrality",
]

#: ROUND-14 STAGING — the round-13 window has zero slack (43 re-pins +
#: 7 staged = 50), so the 5 remaining round-12 session additions stay
#: staged here for the next rotation. Round 13 is an optimization round
#: and registers no new operators.
NEXT_WINDOW: list[str] = [
    "multimodal_duplicate_payload_refcount",
    "ml_deming_regression",
    "ml_mantel_haenszel_or",
    "ts_page_hinkley_drift",
    "ml_aic_bic_trend_compare",
]

#: Overflow staging for additions beyond a single round-10 window.
FUTURE_WINDOW: list[str] = []

#: Deliberate registered-name != function-name pairs (none today). The
#: import-time guard below exists because of the f1c05c8 class of bug: a
#: helper `def` inserted between `@register(...)` and the query function
#: makes the decorator capture the HELPER, silently registering the wrong
#: frame under the right name — caught in round 9 only because full parity
#: runs everything. With the guard, that mistake fails at import time.
_NAME_GUARD_ALLOWLIST: frozenset[str] = frozenset()


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if fn.__name__ != name and name not in _NAME_GUARD_ALLOWLIST:
            raise ValueError(
                f"@register({name!r}) captured function {fn.__name__!r} — "
                "a helper def between the decorator and the query function "
                "registers the WRONG frame (the f1c05c8 bug); rename the "
                "function or add a _NAME_GUARD_ALLOWLIST entry"
            )
        _REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Registry in driver-certification order: DRIVER_WINDOW names first,
    then remaining oracle-backed specs in registration order, then
    oracle-less (rows-only) specs last."""
    pinned = [n for n in DRIVER_WINDOW if n in _REGISTRY]
    seen = set(pinned)
    rest = [n for n in _REGISTRY if n not in seen]
    rest_oracle = [n for n in rest if _REGISTRY[n].oracle is not None]
    rest_none = [n for n in rest if _REGISTRY[n].oracle is None]
    return {n: _REGISTRY[n] for n in (*pinned, *rest_oracle, *rest_none)}


def get_spec(name: str) -> QuerySpec:
    return _REGISTRY[name]
