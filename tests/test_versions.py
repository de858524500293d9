"""Fast-tier checks of the commit protocol the rollup and the LSH index share
with the keyed target (streaming/versions.py): each keeps only the version
dirs its manifest references, and a partial version dir left by a crash
mid-write neither blocks nor leaks into the next batch."""

from __future__ import annotations

import os

from wal_consumer_spark.streaming.dedup_index import StreamingMinHashIndex
from wal_consumer_spark.streaming.incremental import (
    IncrementalRollup,
    ParquetRollupTarget,
    merge_batch_into,
)


def _version_dirs(state) -> set[str]:
    return {n for n in os.listdir(state.path) if n.startswith("v")}


def _live_dirs(state) -> set[str]:
    return {f"v{v}" for v in state._manifest().values()}


def _drop_partial(vdir: str) -> str:
    """What a crash mid-write leaves: a data dir with a torn parquet file."""
    os.makedirs(vdir)
    garbage = f"{vdir}/part-00000-garbage.parquet"
    with open(garbage, "wb") as f:
        f.write(b"not parquet")
    return garbage


def test_rollup_keeps_one_state_dir(spark, tmp_path):
    rollup = IncrementalRollup(["k"], "v")
    target = ParquetRollupTarget(spark, str(tmp_path / "roll"))
    for b in range(10):
        batch = spark.createDataFrame([("a", float(b)), (f"g{b % 3}", 1.0)], "k STRING, v DOUBLE")
        merge_batch_into(rollup, target, batch, b)
        assert _version_dirs(target) == _live_dirs(target) == {f"v{b + 1}"}
    assert target._manifest() == {"9": 10}

    garbage = _drop_partial(f"{target.path}/v11")
    merge_batch_into(rollup, target, spark.createDataFrame([("a", 10.0)], "k STRING, v DOUBLE"), 10)
    got = {r["k"]: (r["n"], r["total"]) for r in rollup.finish(target.read()).collect()}
    assert got == {"a": (11, 55.0), "g0": (4, 4.0), "g1": (3, 3.0), "g2": (3, 3.0)}
    assert target.last_batch_id == 10
    assert _version_dirs(target) == _live_dirs(target) == {"v11"}
    assert not os.path.exists(garbage)


def test_index_keeps_one_dir_per_committed_batch(spark, tmp_path):
    index = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)

    def text(doc: int) -> str:  # 20 words no other doc id shares
        return " ".join(f"w{20 * doc + i}" for i in range(20))

    for b in range(5):
        docs = [(3 * b + j, text(3 * b + j)) for j in range(3)]
        assert index.process_batch(
            spark.createDataFrame(docs, "doc_id LONG, text STRING"), b
        ).collect() == []
        assert _version_dirs(index) == _live_dirs(index) == {f"v{v}" for v in range(1, b + 2)}
    assert index._manifest() == {str(b): b + 1 for b in range(5)}

    garbage = _drop_partial(f"{index.path}/v6/sigs")
    # batch 5 repeats doc 0's text: the pair is found against the older dirs
    dup = spark.createDataFrame([(99, text(0))], "doc_id LONG, text STRING")
    assert [(r.doc1, r.doc2) for r in index.process_batch(dup, 5).collect()] == [(0, 99)]
    assert index._manifest()["5"] == 6
    assert _version_dirs(index) == _live_dirs(index) == {f"v{v}" for v in range(1, 7)}
    assert not os.path.exists(garbage)
    assert index.index_size() == 16 * index.bands
