"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench import gen, oracle, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles -----------------------------------------------------------


def test_percentile_is_nearest_rank_with_count_beyond():
    values = list(range(100, 0, -1))  # 1..100, unsorted
    assert stats.percentile(values, 50) == (50, 50)
    assert stats.percentile(values, 90) == (90, 10)
    assert stats.percentile(values, 99) == (99, 1)
    assert stats.percentile(values, 100) == (100, 0)


def test_percentile_small_samples_round_rank_up():
    assert stats.percentile([7.0], 90) == (7.0, 0)
    assert stats.percentile([1, 2, 3], 50) == (2, 1)
    # p90 of 5 samples is the largest: no sample lies beyond it
    assert stats.percentile([5, 1, 4, 2, 3], 90) == (5, 0)


def test_percentile_rejects_empty_and_bad_rank():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_interquartile_mean_weights_boundary_samples():
    # n=8: ranks [2, 6) -> samples 3..6
    assert stats.interquartile_mean([8, 1, 7, 2, 6, 3, 5, 4]) == pytest.approx(4.5)
    # n=6: ranks [1.5, 4.5) -> half of 2, all of 3 and 4, half of 5
    assert stats.interquartile_mean([1, 2, 3, 4, 5, 6]) == pytest.approx((1 + 3 + 4 + 2.5) / 3)
    assert stats.interquartile_mean([7.0]) == 7.0
    # outliers outside the middle half do not move it
    assert stats.interquartile_mean([1, 2, 3, 4, 5, 6, 7, 800]) == pytest.approx(4.5)


def test_interquartile_mean_moves_by_a_share_when_one_sample_jumps():
    # the middle sample moves up one batch-sized step of 10: the median
    # jumps by the whole step, the interquartile mean by step / (n / 2)
    base = [10.0] * 5 + [20.0] * 4
    moved = [10.0] * 4 + [20.0] * 5
    assert stats.median(moved) - stats.median(base) == 10.0
    assert stats.interquartile_mean(moved) - stats.interquartile_mean(base) == pytest.approx(10 / 4.5)


def test_spread_is_interquartile_range_over_median():
    # quantiles([1..9], n=4) = (2.5, 5, 7.5)
    assert stats.spread(list(range(1, 10))) == pytest.approx(1.0)
    assert stats.spread([10.0] * 4) == 0.0


# -- apply latency: file -> micro-batch -> commit ----------------------------


def _checkpoint(tmp_path, batches: dict[int, list[str]], commit_ns: dict[int, int]) -> str:
    """A Structured Streaming checkpoint with a file-source log and commit
    records, as the file source and MicroBatchExecution write them (batch
    2 folded into a .compact file)."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    for batch, names in batches.items():
        rows = [json.dumps({"path": f"file:///w/{n}", "timestamp": 1, "batchId": batch}) for n in names]
        fname = f"{batch}.compact" if batch == 2 else str(batch)
        (ckpt / "sources" / "0" / fname).write_text("v1\n" + "\n".join(rows) + "\n")
    for batch, t in commit_ns.items():
        path = ckpt / "commits" / str(batch)
        path.write_text('v1\n{"nextBatchWatermarkMs":0}')
        os.utime(path, ns=(t, t))
    (ckpt / "commits" / ".0.crc").write_text("")  # ignored
    return str(ckpt)


def test_latency_joins_file_to_batch_to_commit(tmp_path):
    ckpt = _checkpoint(
        tmp_path,
        {0: ["a.parquet"], 1: ["b.parquet", "c.parquet"], 2: ["d.parquet"]},
        {0: 5_000_000_000, 1: 9_000_000_000, 2: 12_000_000_000},
    )
    batch_of = stats.file_batches(ckpt)
    assert batch_of == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1, "d.parquet": 2}
    commits = stats.commit_times_ns(ckpt)
    assert commits == {0: 5_000_000_000, 1: 9_000_000_000, 2: 12_000_000_000}
    due = {"b.parquet": 4_000_000_000, "c.parquet": 8_500_000_000, "d.parquet": 9_000_000_000}
    assert stats.apply_latencies_ms(due, batch_of, commits) == {
        "b.parquet": 5000.0,
        "c.parquet": 500.0,
        "d.parquet": 3000.0,
    }


def test_latency_refuses_unapplied_files(tmp_path):
    ckpt = _checkpoint(tmp_path, {0: ["a.parquet"], 1: ["b.parquet"]}, {0: 10})
    batch_of, commits = stats.file_batches(ckpt), stats.commit_times_ns(ckpt)
    with pytest.raises(ValueError, match="never read"):
        stats.apply_latencies_ms({"z.parquet": 0}, batch_of, commits)
    with pytest.raises(ValueError, match="never committed"):
        stats.apply_latencies_ms({"b.parquet": 0}, batch_of, commits)


def test_backlog_max_counts_due_but_uncommitted_records():
    # (due, commit, records): 10 and 20 overlap, 5 arrives after 10 commits
    files = [(0, 100, 10), (50, 200, 20), (100, 300, 5)]
    assert stats.backlog_max(files) == 30
    assert stats.backlog_max([(0, 10, 3), (10, 20, 4)]) == 4


# -- CDC replay oracle -------------------------------------------------------


def _wal(rows):
    ids, keys, ops, data = zip(*rows)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "entity_id": pa.array(keys, pa.int64()),
            "operation": list(ops),
            "entity_bytes": pa.array(data, pa.binary()),
            "entity_type": ["t"] * len(ids),
        }
    )


def test_replay_last_op_per_key_by_id_with_deletes_dropped():
    wal = _wal(
        [
            (3, 1, "UPDATE", b"k1-v3"),
            (1, 1, "ADD", b"k1-v1"),   # older than id 3: superseded
            (2, 2, "ADD", b"k2-v2"),
            (5, 2, "DELETE", None),    # k2 ends deleted
            (4, 3, "DELETE", None),    # delete of an absent key is a no-op
            (6, 4, "UPDATE", b"k4-v6"),  # update of an absent key inserts
        ]
    )
    initial = pa.table(
        {
            "entity_id": pa.array([3, 9], pa.int64()),
            "entity_bytes": pa.array([b"k3-s", b"k9-s"], pa.binary()),
            "entity_type": ["t", "t"],
        }
    )
    got = oracle.replay(wal, initial)
    assert got["entity_id"].tolist() == [1, 4, 9]
    assert got["entity_bytes"].tolist() == [b"k1-v3", b"k4-v6", b"k9-s"]


def test_state_mismatch_reports_rows_and_values():
    wal = _wal([(1, 1, "ADD", b"a"), (2, 2, "ADD", b"b")])
    want = oracle.replay(wal)
    assert oracle.state_mismatch(want, want.sample(frac=1, random_state=0)) is None
    assert "rows in target" in oracle.state_mismatch(want, want.iloc[:1])
    changed = want.copy()
    changed.loc[0, "entity_bytes"] = b"z"
    assert "differ in entity_bytes" in oracle.state_mismatch(want, changed)


def test_rows_mismatch_is_order_insensitive_and_exact():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert oracle.rows_mismatch(a, a.iloc[::-1]) is None
    assert oracle.rows_mismatch(a, a.assign(v=[0.1, 0.2000001])) is not None


def test_wal_generator_is_seeded_and_ids_follow_files():
    mix = gen.KeyMix(n_keys=1000)
    a = gen.wal_files(7, 3, 2, 5, mix)
    b = gen.wal_files(7, 3, 2, 5, mix)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert a[0]["id"].to_pylist() == [15, 16, 17, 18, 19]
    assert a[1]["id"].to_pylist()[0] == 20
    assert not gen.wal_files(8, 3, 2, 5, mix)[0].equals(a[0])


# -- the benchmark's declared metrics ------------------------------------------


def test_benchmark_json_matches_the_metrics_run_reports():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.layer_metrics()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
